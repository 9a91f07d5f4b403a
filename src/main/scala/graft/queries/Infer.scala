package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Round-8 statistical-inference operators: Wilson score intervals,
  * CUPED variance reduction, and a deterministic Poisson bootstrap.
  * Every statistic is one fixed IEEE chain from exact integer
  * aggregates (counts, cents, hash coins), so results are bit-portable
  * across engines and partitionings; conventions per ARCHITECTURE.md
  * "Cross-engine determinism".
  */
object Infer {

  /** W32 — Wilson score interval: per language, the 95% interval for
    * the share of "long" documents (≥300 chars). The Wilson bounds
    * stay inside [0,1] and behave at small n / extreme p where the
    * naive Wald interval collapses — the standard rate CI a metrics
    * layer publishes. One aggregate (counts only), then a scalar IEEE
    * chain per group; the expression tree is written identically in
    * both engines, term by term. */
  def wilsonCi(s: SparkSession, dir: String): DataFrame = {
    val z2 = lit(3.8416) // z = 1.96; both engines parse the same literal to the same double
    Tables.documents(s, dir)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("n_chars") >= 300, 1L).otherwise(0L)).as("k"))
      .withColumn("p_hat", col("k").cast("double") / col("n"))
      .withColumn("center",
        (col("p_hat") + z2 / (col("n") * 2)) / (z2 / col("n") + 1.0))
      .withColumn("half",
        lit(1.96) * sqrt(col("p_hat") * (lit(1.0) - col("p_hat")) / col("n")
          + z2 / (col("n") * col("n") * 4)) / (z2 / col("n") + 1.0))
      .select(col("lang"), col("n"), col("k"), col("p_hat"),
        (col("center") - col("half")).as("lo"),
        (col("center") + col("half")).as("hi"))
      .orderBy(col("lang"))
  }

  val wilsonCiSql: String =
    """WITH c AS (SELECT lang, count(*) AS n,
      |    CAST(sum(CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) AS BIGINT) AS k
      |  FROM documents GROUP BY lang),
      |p AS (SELECT lang, n, k, CAST(k AS DOUBLE) / n AS p_hat FROM c),
      |w AS (SELECT lang, n, k, p_hat,
      |        (p_hat + 3.8416 / (n * 2)) / (3.8416 / n + 1.0) AS center,
      |        1.96 * sqrt(p_hat * (1.0 - p_hat) / n
      |          + 3.8416 / (n * n * 4)) / (3.8416 / n + 1.0) AS half
      |      FROM p)
      |SELECT lang, n, k, p_hat, center - half AS lo, center + half AS hi
      |FROM w ORDER BY lang""".stripMargin

  /** W33 — CUPED variance reduction (the pre-experiment-covariate
    * adjustment every mature A/B platform applies): users are split
    * into two deterministic variants (user_id parity); each user's
    * pre-period spend (Jan 1–15) is the covariate x, post-period
    * spend the metric y, both in exact integer cents. θ = cov(x,y)/
    * var(x) comes from exact decimal moment sums (n·Σxy − Σx·Σy over
    * n·Σxx − Σx², products carried in decimal(38) so no overflow at
    * any n), and because the CUPED adjustment is LINEAR, the adjusted
    * variant mean is mean_y − θ·(mean_x − x̄): every output is a fixed
    * IEEE chain over exact integer/decimal aggregates — no
    * order-dependent double summation anywhere. Emits per-variant
    * mean, adjusted mean, and the variance before/after (the
    * var_adj/var_y ratio is the sensitivity win). */
  def cuped(s: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("value") * 100).cast("bigint")
    val users = Tables.events(s, dir)
      .select(col("user_id"), col("ts"), cents.as("cents"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("ts") < lit("2024-01-16").cast("timestamp"), col("cents"))
          .otherwise(0L)).as("x"),
        sum(when(col("ts") >= lit("2024-01-16").cast("timestamp"), col("cents"))
          .otherwise(0L)).as("y"))
      .select(col("user_id"), col("x"), col("y"),
        (col("user_id") % 2).cast("int").as("variant"))
    val d19 = "decimal(19,0)"
    val g = users.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("y")).as("sy"),
      sum(col("x").cast(d19) * col("x").cast(d19)).as("sxx"),
      sum(col("x").cast(d19) * col("y").cast(d19)).as("sxy"))
      .select(col("n"), col("sx"),
        ((col("sxy") * col("n") - col("sx").cast(d19) * col("sy").cast(d19))
          .cast("double") /
          (col("sxx") * col("n") - col("sx").cast(d19) * col("sx").cast(d19))
            .cast("double")).as("theta"),
        (col("sx").cast("double") / col("n")).as("xbar"))
    users.groupBy(col("variant"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("x")).as("vsx"), sum(col("y")).as("vsy"),
        sum(col("x").cast(d19) * col("x").cast(d19)).as("vsxx"),
        sum(col("x").cast(d19) * col("y").cast(d19)).as("vsxy"),
        sum(col("y").cast(d19) * col("y").cast(d19)).as("vsyy"))
      .crossJoin(broadcast(g))
      .select(col("variant"), col("n_users"),
        (col("vsy").cast("double") / col("n_users")).as("mean_y"),
        (col("vsy").cast("double") / col("n_users")
          - col("theta") * (col("vsx").cast("double") / col("n_users") - col("xbar")))
          .as("mean_adj"),
        ((col("vsyy") * col("n_users")
          - col("vsy").cast(d19) * col("vsy").cast(d19)).cast("double")
          / (col("n_users").cast("double") * col("n_users"))).as("var_y"),
        (((col("vsyy") * col("n_users")
            - col("vsy").cast(d19) * col("vsy").cast(d19)).cast("double")
          - col("theta") * 2.0 * (col("vsxy") * col("n_users")
            - col("vsx").cast(d19) * col("vsy").cast(d19)).cast("double")
          + col("theta") * col("theta") * (col("vsxx") * col("n_users")
            - col("vsx").cast(d19) * col("vsx").cast(d19)).cast("double"))
          / (col("n_users").cast("double") * col("n_users"))).as("var_adj"))
      .orderBy(col("variant"))
  }

  val cupedSql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(sum(CASE WHEN ts < TIMESTAMP '2024-01-16'
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS x,
      |    CAST(sum(CASE WHEN ts >= TIMESTAMP '2024-01-16'
      |      THEN CAST(floor(value * 100) AS BIGINT) ELSE 0 END) AS BIGINT) AS y,
      |    CAST(user_id % 2 AS INT) AS variant
      |  FROM events GROUP BY user_id),
      |g AS (SELECT count(*) AS n, CAST(sum(x) AS BIGINT) AS sx,
      |        CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * y) * count(*)
      |            - CAST(sum(x) AS DECIMAL(19,0)) * sum(y) AS DECIMAL(38,0)) AS DOUBLE)
      |          / CAST(CAST(sum(CAST(x AS DECIMAL(19,0)) * x) * count(*)
      |            - CAST(sum(x) AS DECIMAL(19,0)) * sum(x) AS DECIMAL(38,0)) AS DOUBLE)
      |          AS theta,
      |        CAST(sum(x) AS DOUBLE) / count(*) AS xbar
      |      FROM u),
      |v AS (SELECT variant, count(*) AS n_users,
      |        CAST(sum(x) AS BIGINT) AS vsx, CAST(sum(y) AS BIGINT) AS vsy,
      |        CAST(sum(CAST(x AS DECIMAL(19,0)) * x) AS DECIMAL(38,0)) AS vsxx,
      |        CAST(sum(CAST(x AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS vsxy,
      |        CAST(sum(CAST(y AS DECIMAL(19,0)) * y) AS DECIMAL(38,0)) AS vsyy
      |      FROM u GROUP BY variant)
      |SELECT variant, n_users,
      |  CAST(vsy AS DOUBLE) / n_users AS mean_y,
      |  CAST(vsy AS DOUBLE) / n_users
      |    - theta * (CAST(vsx AS DOUBLE) / n_users - xbar) AS mean_adj,
      |  CAST(CAST(vsyy * n_users - CAST(vsy AS DECIMAL(19,0)) * vsy
      |    AS DECIMAL(38,0)) AS DOUBLE)
      |    / (CAST(n_users AS DOUBLE) * n_users) AS var_y,
      |  (CAST(CAST(vsyy * n_users - CAST(vsy AS DECIMAL(19,0)) * vsy
      |      AS DECIMAL(38,0)) AS DOUBLE)
      |    - theta * 2.0 * CAST(CAST(vsxy * n_users
      |      - CAST(vsx AS DECIMAL(19,0)) * vsy AS DECIMAL(38,0)) AS DOUBLE)
      |    + theta * theta * CAST(CAST(vsxx * n_users
      |      - CAST(vsx AS DECIMAL(19,0)) * vsx AS DECIMAL(38,0)) AS DOUBLE))
      |    / (CAST(n_users AS DOUBLE) * n_users) AS var_adj
      |FROM v CROSS JOIN g ORDER BY variant""".stripMargin

  /** Poisson(1) draw from a 32-bit uniform hash coin — the inverse-CDF
    * ladder with integer thresholds (floor(cdf·2³²)), so the draw is
    * one exact integer comparison chain, identical in any engine. */
  private def poisson(u: Column): Column =
    when(u < 1580030168L, 0L).when(u < 3160060337L, 1L)
      .when(u < 3950075421L, 2L).when(u < 4213413783L, 3L)
      .when(u < 4279248373L, 4L).when(u < 4292415291L, 5L)
      .when(u < 4294609777L, 6L).otherwise(7L)

  /** W34 — deterministic Poisson bootstrap CI for the mean order
    * value: 64 replicates, each reweighting every order by a
    * Poisson(1) count drawn from an md5 coin on (orderkey, replicate)
    * — the single-pass bootstrap that never materializes a resample
    * (the streaming form survives any corpus size; replicate means are
    * map-side-combined exact integer sums). The 2.5%/97.5% quantiles
    * interpolate over the 64 replicate means — metadata-scale. Every
    * replicate mean is one double division of exact integers, so the
    * whole CI is bit-portable. */
  def bootstrapCi(s: SparkSession, dir: String, b: Int = 64): DataFrame = {
    val o = Tables.orders(s, dir).select(col("o_orderkey"),
      (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint").as("cents"))
    val reps = o.select(col("o_orderkey"), col("cents"),
        explode(sequence(lit(0), lit(b - 1))).as("b"))
      .select(col("b"), col("cents"),
        poisson(conv(substring(md5(concat_ws("|",
          col("o_orderkey"), col("b"))), 1, 8), 16, 10).cast("long")).as("w"))
      .groupBy(col("b"))
      .agg((sum(col("w") * col("cents")).cast("double") / sum(col("w")))
        .as("rep_mean"))
    val point = o.agg((sum(col("cents")).cast("double") / count(lit(1)))
      .as("point_mean"))
    reps.agg(count(lit(1)).as("n_replicates"),
        expr("percentile(rep_mean, 0.025D)").as("lo"),
        expr("percentile(rep_mean, 0.975D)").as("hi"))
      .crossJoin(broadcast(point))
      .select(col("n_replicates"), col("point_mean"), col("lo"), col("hi"))
  }

  val bootstrapCiSql: String =
    """WITH o AS (SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders),
      |r AS (SELECT b, cents,
      |        CAST(concat('0x', substring(md5(concat_ws('|',
      |          CAST(o_orderkey AS VARCHAR), CAST(b AS VARCHAR))), 1, 8))
      |          AS BIGINT) AS u
      |      FROM o, (SELECT unnest(range(0, 64)) AS b)),
      |w AS (SELECT b, cents,
      |        CASE WHEN u < 1580030168 THEN 0 WHEN u < 3160060337 THEN 1
      |             WHEN u < 3950075421 THEN 2 WHEN u < 4213413783 THEN 3
      |             WHEN u < 4279248373 THEN 4 WHEN u < 4292415291 THEN 5
      |             WHEN u < 4294609777 THEN 6 ELSE 7 END AS w
      |      FROM r),
      |m AS (SELECT b, CAST(sum(w * cents) AS DOUBLE) / sum(w) AS rep_mean
      |      FROM w GROUP BY b),
      |p AS (SELECT CAST(sum(cents) AS DOUBLE) / count(*) AS point_mean FROM o)
      |SELECT count(*) AS n_replicates, any_value(point_mean) AS point_mean,
      |  quantile_cont(rep_mean, 0.025) AS lo,
      |  quantile_cont(rep_mean, 0.975) AS hi
      |FROM m CROSS JOIN p""".stripMargin

  /** W35 — Welch's unequal-variance t-test on mean event value,
    * click vs view: the two-sample means test that stays valid when
    * the groups' variances differ (the textbook pooled t silently
    * assumes they don't). Values quantize to exact integer micros;
    * each group's mean and (n−1)-denominator variance come from exact
    * decimal moment sums (n·Σv² − (Σv)², products carried in
    * decimal(38) — exact through that range; past it, under Spark's
    * default ANSI mode, the int64 Σv and the decimal product both
    * FAIL LOUDLY rather than wrap), so t and the Welch–Satterthwaite
    * df are each
    * ONE fixed IEEE chain written identically in both engines. One
    * map-side-combined aggregate over the fact table; everything after
    * is a 2-row pivot. */
  def welchTtest(s: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val g = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"), floor(col("value") * 1e6).cast("bigint").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v").cast(d19) * col("v").cast(d19)).as("svv"))
      .select(col("event_type"), col("n"),
        (col("sv").cast("double") / col("n")).as("mean_v"),
        ((col("svv") * col("n") - col("sv").cast(d19) * col("sv").cast(d19))
          .cast("double")
          / (col("n").cast("double") * (col("n") - lit(1)))).as("var_v"))
    val w = g.agg(
      max(when(col("event_type") === "click", col("n"))).as("n1"),
      max(when(col("event_type") === "click", col("mean_v"))).as("mean1"),
      max(when(col("event_type") === "click", col("var_v"))).as("var1"),
      max(when(col("event_type") === "view", col("n"))).as("n2"),
      max(when(col("event_type") === "view", col("mean_v"))).as("mean2"),
      max(when(col("event_type") === "view", col("var_v"))).as("var2"))
      .withColumn("se1", col("var1") / col("n1"))
      .withColumn("se2", col("var2") / col("n2"))
    w.select(col("n1"), col("n2"), col("mean1"), col("mean2"),
      ((col("mean1") - col("mean2")) / sqrt(col("se1") + col("se2")))
        .as("t_stat"),
      (((col("se1") + col("se2")) * (col("se1") + col("se2")))
        / (col("se1") * col("se1") / (col("n1") - lit(1))
          + col("se2") * col("se2") / (col("n2") - lit(1)))).as("df_welch"))
  }

  val welchTtestSql: String =
    """WITH v AS (SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'view')),
      |g AS (SELECT event_type, count(*) AS n,
      |        CAST(sum(v) AS DOUBLE) / count(*) AS mean_v,
      |        CAST(CAST(sum(CAST(v AS DECIMAL(19,0)) * v) * count(*)
      |            - CAST(sum(v) AS DECIMAL(19,0)) * sum(v) AS DECIMAL(38,0))
      |          AS DOUBLE)
      |          / (CAST(count(*) AS DOUBLE) * (count(*) - 1)) AS var_v
      |      FROM v GROUP BY event_type),
      |p AS (SELECT
      |        max(CASE WHEN event_type = 'click' THEN n END) AS n1,
      |        max(CASE WHEN event_type = 'click' THEN mean_v END) AS mean1,
      |        max(CASE WHEN event_type = 'click' THEN var_v END) AS var1,
      |        max(CASE WHEN event_type = 'view' THEN n END) AS n2,
      |        max(CASE WHEN event_type = 'view' THEN mean_v END) AS mean2,
      |        max(CASE WHEN event_type = 'view' THEN var_v END) AS var2
      |      FROM g),
      |se AS (SELECT *, var1 / n1 AS se1, var2 / n2 AS se2 FROM p)
      |SELECT n1, n2, mean1, mean2,
      |  (mean1 - mean2) / sqrt(se1 + se2) AS t_stat,
      |  ((se1 + se2) * (se1 + se2))
      |    / (se1 * se1 / (n1 - 1) + se2 * se2 / (n2 - 1)) AS df_welch
      |FROM se""".stripMargin

  /** W38 — McNemar's paired pre/post test: "made a big purchase
    * (value ≥ 90) before mid-month" vs "after mid-month" as PAIRED
    * binary outcomes on the same user — the within-subject
    * before/after design where W19's two-proportion z and W7's
    * chi-square independence are both wrong (they assume independent
    * samples; here every user contributes to both margins). The
    * statistic reads only the DISCORDANT cells: χ² = (b−c)²/(b+c),
    * plus the continuity-corrected form. One per-user aggregate, one
    * 4-cell rollup, exact integers until the terminal division. */
  def mcnemar(s: SparkSession, dir: String): DataFrame = {
    val mid = lit("2024-01-16").cast("timestamp")
    Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("ts") < mid
          && col("value") >= 90, 1L).otherwise(0L)).as("a"),
        max(when(col("event_type") === "purchase" && col("ts") >= mid
          && col("value") >= 90, 1L).otherwise(0L)).as("b"))
      .agg(sum(col("a") * col("b")).as("n11"),
        sum(col("a") * (lit(1L) - col("b"))).as("n10"),
        sum((lit(1L) - col("a")) * col("b")).as("n01"),
        sum((lit(1L) - col("a")) * (lit(1L) - col("b"))).as("n00"))
      .select(col("n11"), col("n10"), col("n01"), col("n00"),
        (((col("n10") - col("n01")) * (col("n10") - col("n01")))
          .cast("double") / (col("n10") + col("n01"))).as("chi2"),
        (((abs(col("n10") - col("n01")) - 1) * (abs(col("n10") - col("n01")) - 1))
          .cast("double") / (col("n10") + col("n01"))).as("chi2_cc"))
  }

  val mcnemarSql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(max(CASE WHEN event_type = 'purchase'
      |      AND ts < TIMESTAMP '2024-01-16' AND value >= 90
      |      THEN 1 ELSE 0 END) AS BIGINT) AS a,
      |    CAST(max(CASE WHEN event_type = 'purchase'
      |      AND ts >= TIMESTAMP '2024-01-16' AND value >= 90
      |      THEN 1 ELSE 0 END) AS BIGINT) AS b
      |  FROM events GROUP BY user_id),
      |m AS (SELECT CAST(sum(a * b) AS BIGINT) AS n11,
      |        CAST(sum(a * (1 - b)) AS BIGINT) AS n10,
      |        CAST(sum((1 - a) * b) AS BIGINT) AS n01,
      |        CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00
      |      FROM u)
      |SELECT n11, n10, n01, n00,
      |  CAST((n10 - n01) * (n10 - n01) AS DOUBLE) / (n10 + n01) AS chi2,
      |  CAST((abs(n10 - n01) - 1) * (abs(n10 - n01) - 1) AS DOUBLE)
      |    / (n10 + n01) AS chi2_cc
      |FROM m""".stripMargin

  /** W40 — A/B sample-size (power) calculation: the DESIGN-stage
    * companion of the readout tests (W19/W33/W35/W38) — given the
    * observed variance of per-user spend, how many users per arm does
    * an experiment need to detect a 2% lift at α = 0.05 (two-sided)
    * with 80% power? n/arm = (z₀.₉₇₅+z₀.₈)²·2σ²/δ². Variance comes
    * from the same exact decimal moment sums as W35; z literals are
    * parsed identically by both engines; the only float work is one
    * fixed chain ending in a ceil. */
  def sampleSize(s: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    Tables.events(s, dir)
      .filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100).cast("bigint")).as("cents"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sv"),
        sum(col("cents").cast(d19) * col("cents").cast(d19)).as("svv"))
      .select(col("n"),
        (col("sv").cast("double") / col("n")).as("mean_cents"),
        ((col("svv") * col("n") - col("sv").cast(d19) * col("sv").cast(d19))
          .cast("double")
          / (col("n").cast("double") * (col("n") - lit(1)))).as("var_cents"))
      .select(col("n").as("n_observed"), col("mean_cents"), col("var_cents"),
        (col("mean_cents") * 0.02).as("mde_cents"),
        ceil(lit(7.8489870956) * 2.0 * col("var_cents")
          / ((col("mean_cents") * 0.02) * (col("mean_cents") * 0.02)))
          .cast("bigint").as("n_per_arm"))
  }

  val sampleSizeSql: String =
    """WITH u AS (SELECT user_id,
      |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
      |  FROM events WHERE event_type = 'purchase' GROUP BY user_id),
      |m AS (SELECT count(*) AS n, CAST(sum(cents) AS BIGINT) AS sv,
      |        CAST(sum(CAST(cents AS DECIMAL(19,0)) * cents) AS DECIMAL(38,0))
      |          AS svv
      |      FROM u),
      |v AS (SELECT n, CAST(sv AS DOUBLE) / n AS mean_cents,
      |        CAST(CAST(svv * n - CAST(sv AS DECIMAL(19,0)) * sv
      |            AS DECIMAL(38,0)) AS DOUBLE)
      |          / (CAST(n AS DOUBLE) * (n - 1)) AS var_cents
      |      FROM m)
      |SELECT n AS n_observed, mean_cents, var_cents,
      |  mean_cents * 0.02 AS mde_cents,
      |  CAST(ceil(7.8489870956 * 2.0 * var_cents
      |    / ((mean_cents * 0.02) * (mean_cents * 0.02))) AS BIGINT)
      |    AS n_per_arm
      |FROM v""".stripMargin

  /** W41 — grouped multiple linear regression, closed form: per return
    * flag, price-cents ~ quantity + discount-ppc by the normal
    * equations in covariance form — the distributed regression shape
    * that touches the fact table exactly ONCE (nine map-side-combined
    * exact integer sums; per-row products stay far inside int64:
    * q ≤ 50, d ≤ 10, y ≤ 10⁷ cents) and then solves the 2×2 system by
    * Cramer per group. Every centered combination (n·Σxy − Σx·Σy) and
    * the determinant/numerators are carried in decimal(38,0) (HUGEINT
    * in the oracle) — exact through ~10³⁸, terminal double division
    * only. q_regr_slope is the one-predictor special case; adding a
    * predictor grows the sum list quadratically but never adds a
    * second pass. Under ANSI mode an out-of-range corpus fails loudly
    * instead of wrapping. */
  def regrMulti(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    def d(c: Column): Column = c.cast(d38)
    val g = Tables.lineitem(s, dir)
      .select(col("l_returnflag"),
        col("l_quantity").cast("bigint").as("q"),
        round(col("l_discount") * 100).cast("bigint").as("dd"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
          .as("y"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).as("sq"), sum(col("dd")).as("sd"), sum(col("y")).as("sy"),
        sum(col("q") * col("q")).as("sqq"),
        sum(col("dd") * col("dd")).as("sdd"),
        sum(col("q") * col("dd")).as("sqd"),
        sum(col("q") * col("y")).as("sqy"),
        sum(col("dd") * col("y")).as("sdy"))
      .select(col("l_returnflag"), col("n"), col("sq"), col("sd"), col("sy"),
        (d(col("n")) * col("sqq") - d(col("sq")) * col("sq")).as("a11"),
        (d(col("n")) * col("sdd") - d(col("sd")) * col("sd")).as("a22"),
        (d(col("n")) * col("sqd") - d(col("sq")) * col("sd")).as("a12"),
        (d(col("n")) * col("sqy") - d(col("sq")) * col("sy")).as("b1"),
        (d(col("n")) * col("sdy") - d(col("sd")) * col("sy")).as("b2"))
      .select(col("l_returnflag"), col("n"), col("sq"), col("sd"), col("sy"),
        (col("a11") * col("a22") - col("a12") * col("a12")).as("det"),
        (col("a22") * col("b1") - col("a12") * col("b2")).as("numq"),
        (col("a11") * col("b2") - col("a12") * col("b1")).as("numd"))
    g.select(col("l_returnflag"), col("n"),
      round(col("numq").cast("double") / col("det").cast("double"), 6)
        .as("beta_qty"),
      round(col("numd").cast("double") / col("det").cast("double"), 6)
        .as("beta_disc"),
      round((col("sy").cast("double")
        - (col("numq").cast("double") / col("det").cast("double"))
          * col("sq").cast("double")
        - (col("numd").cast("double") / col("det").cast("double"))
          * col("sd").cast("double")) / col("n"), 4).as("intercept_cents"))
      .orderBy(col("l_returnflag"))
  }

  val regrMultiSql: String =
    """WITH l AS (SELECT l_returnflag,
      |    CAST(l_quantity AS BIGINT) AS q,
      |    CAST(round(l_discount * 100) AS BIGINT) AS dd,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS y
      |  FROM lineitem),
      |g AS (SELECT l_returnflag, count(*) AS n,
      |    CAST(sum(q) AS HUGEINT) AS sq, CAST(sum(dd) AS HUGEINT) AS sd,
      |    CAST(sum(y) AS HUGEINT) AS sy,
      |    CAST(sum(q * q) AS HUGEINT) AS sqq,
      |    CAST(sum(dd * dd) AS HUGEINT) AS sdd,
      |    CAST(sum(q * dd) AS HUGEINT) AS sqd,
      |    CAST(sum(q * y) AS HUGEINT) AS sqy,
      |    CAST(sum(dd * y) AS HUGEINT) AS sdy
      |  FROM l GROUP BY l_returnflag),
      |c AS (SELECT l_returnflag, n, sq, sd, sy,
      |    n * sqq - sq * sq AS a11, n * sdd - sd * sd AS a22,
      |    n * sqd - sq * sd AS a12,
      |    n * sqy - sq * sy AS b1, n * sdy - sd * sy AS b2
      |  FROM g),
      |s AS (SELECT l_returnflag, n, sq, sd, sy,
      |    a11 * a22 - a12 * a12 AS det,
      |    a22 * b1 - a12 * b2 AS numq, a11 * b2 - a12 * b1 AS numd
      |  FROM c)
      |SELECT l_returnflag, n,
      |  round(CAST(numq AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta_qty,
      |  round(CAST(numd AS DOUBLE) / CAST(det AS DOUBLE), 6) AS beta_disc,
      |  round((CAST(sy AS DOUBLE)
      |    - (CAST(numq AS DOUBLE) / CAST(det AS DOUBLE)) * CAST(sq AS DOUBLE)
      |    - (CAST(numd AS DOUBLE) / CAST(det AS DOUBLE)) * CAST(sd AS DOUBLE))
      |    / n, 4) AS intercept_cents
      |FROM s ORDER BY l_returnflag""".stripMargin

  /** W42 — difference-in-differences: the pre/post × treat/control
    * estimator for a rollout that switched on mid-month — subtracting
    * the control group's drift removes the secular trend a naive
    * before/after comparison (or W38's within-subject test) absorbs
    * into the effect. Assignment is the deterministic user-parity
    * coin (as W33), the boundary the same 2024-01-16 cut. One
    * conditional aggregate per event type produces all four cell
    * counts and exact cent sums; the estimate is a fixed IEEE chain
    * over those eight integers — one pass, any scale. */
  def did(s: SparkSession, dir: String): DataFrame = {
    val mid = lit("2024-01-16").cast("timestamp")
    def cell(t: Int, p: Int, v: Column): Column =
      sum(when(col("treat") === t && col("post") === p, v).otherwise(0L))
    val m = Tables.events(s, dir)
      .select(col("event_type"),
        (col("user_id") % 2).cast("int").as("treat"),
        when(col("ts") >= mid, 1).otherwise(0).as("post"),
        floor(col("value") * 100).cast("bigint").as("cents"))
      .groupBy(col("event_type"))
      .agg(cell(1, 0, lit(1L)).as("n_t_pre"), cell(1, 1, lit(1L)).as("n_t_post"),
        cell(0, 0, lit(1L)).as("n_c_pre"), cell(0, 1, lit(1L)).as("n_c_post"),
        cell(1, 0, col("cents")).as("s_t_pre"),
        cell(1, 1, col("cents")).as("s_t_post"),
        cell(0, 0, col("cents")).as("s_c_pre"),
        cell(0, 1, col("cents")).as("s_c_post"))
      .select(col("event_type"),
        col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
        (col("s_t_pre").cast("double") / col("n_t_pre")).as("m_t_pre"),
        (col("s_t_post").cast("double") / col("n_t_post")).as("m_t_post"),
        (col("s_c_pre").cast("double") / col("n_c_pre")).as("m_c_pre"),
        (col("s_c_post").cast("double") / col("n_c_post")).as("m_c_post"))
    m.select(col("event_type"),
      col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
      round(col("m_t_pre"), 4).as("mean_t_pre"),
      round(col("m_t_post"), 4).as("mean_t_post"),
      round(col("m_c_pre"), 4).as("mean_c_pre"),
      round(col("m_c_post"), 4).as("mean_c_post"),
      round((col("m_t_post") - col("m_t_pre"))
        - (col("m_c_post") - col("m_c_pre")), 4).as("did_cents"))
      .orderBy(col("event_type"))
  }

  val didSql: String =
    """WITH e AS (SELECT event_type,
      |    CAST(user_id % 2 AS INT) AS treat,
      |    CASE WHEN ts >= TIMESTAMP '2024-01-16' THEN 1 ELSE 0 END AS post,
      |    CAST(floor(value * 100) AS BIGINT) AS cents
      |  FROM events),
      |g AS (SELECT event_type,
      |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t_pre,
      |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_t_post,
      |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c_pre,
      |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN 1 ELSE 0 END)
      |      AS BIGINT) AS n_c_post,
      |    CAST(sum(CASE WHEN treat = 1 AND post = 0 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_t_pre,
      |    CAST(sum(CASE WHEN treat = 1 AND post = 1 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_t_post,
      |    CAST(sum(CASE WHEN treat = 0 AND post = 0 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_c_pre,
      |    CAST(sum(CASE WHEN treat = 0 AND post = 1 THEN cents ELSE 0 END)
      |      AS BIGINT) AS s_c_post
      |  FROM e GROUP BY event_type),
      |m AS (SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
      |    CAST(s_t_pre AS DOUBLE) / n_t_pre AS m_t_pre,
      |    CAST(s_t_post AS DOUBLE) / n_t_post AS m_t_post,
      |    CAST(s_c_pre AS DOUBLE) / n_c_pre AS m_c_pre,
      |    CAST(s_c_post AS DOUBLE) / n_c_post AS m_c_post
      |  FROM g)
      |SELECT event_type, n_t_pre, n_t_post, n_c_pre, n_c_post,
      |  round(m_t_pre, 4) AS mean_t_pre, round(m_t_post, 4) AS mean_t_post,
      |  round(m_c_pre, 4) AS mean_c_pre, round(m_c_post, 4) AS mean_c_post,
      |  round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 4) AS did_cents
      |FROM m ORDER BY event_type""".stripMargin

  /** W61 — Kruskal-Wallis rank test: do the return-flag groups draw
    * order quantities from the same distribution? The nonparametric
    * one-way ANOVA — rank-based, so outliers and non-normality (which
    * invalidate q_anova's F) cannot distort it; quantity's heavy ties
    * make the tie-corrected form the honest one. Shape: ranks are NOT
    * a row-level window — the value domain collapses first (quantity
    * has a bounded distinct set; any measure collapses to its distinct
    * values), the midrank of each tied block comes from one running
    * sum over that bounded relation, and the per-group rank sums are
    * integer-exact throughout (midrank·2 stays integral, so all sums
    * are BIGINT/DECIMAL until the final H). The corpus is scanned
    * exactly once. H' = H / (1 − Σ(t³−t)/(N³−N)). */
  def kruskalWallis(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val base = Tables.lineitem(s, dir)
      .select(col("l_returnflag").as("grp"),
        col("l_quantity").cast("long").as("v"))
      .groupBy(col("grp"), col("v")).agg(count(lit(1)).as("n_gv"))
      .persistScoped() // value-domain relation: tie counts + group sums
    val ties = base.groupBy(col("v")).agg(sum(col("n_gv")).as("t"))
      .persistScoped() // midranks + tie-correction sum both read it
    // 2×midrank of tied block v = 2·(rows before v) + t + 1 — integral,
    // so every rank sum below stays exact
    val rank2 = ties
      .withColumn("before", coalesce(sum(col("t")).over(
        Window.orderBy(col("v"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("v"), col("t"),
        (lit(2) * col("before") + col("t") + 1).as("r2"))
    val perGrp = base.join(rank2, Seq("v"))
      .groupBy(col("grp"))
      .agg(sum(col("n_gv")).as("n"),
        sum(col("n_gv").cast("decimal(38,0)") * col("r2")).as("r2sum"))
      .persistScoped() // totals + per-group output both read it
    // hsum = 4·Σ (R_g²/n_g) with R_g = r2sum/2, so the classic
    // 12/(N(N+1))·Σ(R²/n) leading term is 3/(N(N+1))·hsum — the ×4
    // folds the 12/4; term order is the same fixed 3-group chain on
    // both engines
    val tot = perGrp.agg(sum(col("n")).as("nn"), count(lit(1)).as("k"),
        (sum((col("r2sum") * col("r2sum")).cast("double") / lit(4.0) /
          col("n").cast("double")) * 4).as("hsum"))
      .crossJoin(broadcast(ties.agg(
        sum(col("t") * col("t") * col("t") - col("t")).as("tiesum"))))
    val nD = col("nn").cast("double")
    val h = (lit(3.0) / (nD * (nD + 1))) * col("hsum") -
      lit(3.0) * (nD + 1)
    perGrp.crossJoin(broadcast(tot))
      .select(col("grp"), col("n").cast("long").as("n"),
        round(col("r2sum").cast("double") / 2 / col("n").cast("double"), 4)
          .as("mean_rank"),
        col("k").cast("long").as("n_groups"),
        round(h, 4).as("h"),
        round(h / (lit(1.0) - col("tiesum").cast("double") / (nD * nD * nD - nD)), 4)
          .as("h_tie_corrected"))
      .orderBy(col("grp"))
  }

  val kruskalWallisSql: String =
    """WITH base AS (SELECT l_returnflag AS grp, CAST(l_quantity AS BIGINT) AS v,
      |    count(*) AS n_gv
      |  FROM lineitem GROUP BY 1, 2),
      |ties AS (SELECT v, CAST(sum(n_gv) AS BIGINT) AS t FROM base GROUP BY v),
      |rank2 AS (SELECT v, t,
      |    2 * coalesce(sum(t) OVER (ORDER BY v
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + t + 1 AS r2
      |  FROM ties),
      |pg AS (SELECT grp, CAST(sum(n_gv) AS BIGINT) AS n,
      |    sum(CAST(n_gv AS HUGEINT) * r2) AS r2sum
      |  FROM base JOIN rank2 USING (v) GROUP BY grp),
      |tot AS (SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS k,
      |    (SELECT CAST(sum(t * t * t - t) AS BIGINT) FROM ties) AS tiesum,
      |    sum(CAST(r2sum AS DOUBLE) * CAST(r2sum AS DOUBLE) / 4.0
      |        / CAST(n AS DOUBLE)) * 4 AS hsum
      |  FROM pg)
      |SELECT grp, n,
      |  round(CAST(r2sum AS DOUBLE) / 2 / CAST(n AS DOUBLE), 4) AS mean_rank,
      |  CAST(k AS BIGINT) AS n_groups,
      |  round((3.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))) * hsum
      |    - 3.0 * (CAST(nn AS DOUBLE) + 1), 4) AS h,
      |  round(((3.0 / (CAST(nn AS DOUBLE) * (CAST(nn AS DOUBLE) + 1))) * hsum
      |    - 3.0 * (CAST(nn AS DOUBLE) + 1))
      |    / (1.0 - CAST(tiesum AS DOUBLE)
      |       / (CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |          - CAST(nn AS DOUBLE))), 4) AS h_tie_corrected
      |FROM pg CROSS JOIN tot ORDER BY grp""".stripMargin

  /** W65 — Benjamini-Hochberg FDR screen over a 25-hypothesis family:
    * the multiple-testing control every metrics platform needs once it
    * runs one test PER SEGMENT (25 (mktsegment, orderpriority) cells
    * here, each testing "does this cell's mean order value differ from
    * the global mean") — at α=0.10, 2-3 of 25 naive tests "win" by
    * chance alone; BH caps the expected false-discovery share instead.
    * Distribution-free by construction: the per-cell p is the
    * CHEBYSHEV bound min(1, var/(n·Δ²)) = 1/z² — conservative, exact,
    * and free of erf/Φ (which neither engine pins bit-identically).
    * Arithmetic: Δ and the variance stay exact decimals (Δ numerator
    * D = Σv_c·n_g − Σv_g·n_c; variance V/W from n·Σv²−(Σv)²); the p
    * bound is ONE fixed double chain over their casts, identical on
    * both engines. BH itself is a window pass: rank p ascending, k =
    * max rank with p ≤ rank·α/m, reject ranks ≤ k. One corpus
    * aggregate; everything after is 25 rows. */
  def bhScreen(s: SparkSession, dir: String, alpha: Double = 0.10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cells = Tables.orders(s, dir)
      .join(broadcast(Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment"))),
        col("o_custkey") === col("c_custkey"))
      .select(col("c_mktsegment").as("seg"),
        col("o_orderpriority").as("prio"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("v"))
      .groupBy(col("seg"), col("prio"))
      .agg(count(lit(1)).as("n_c"), sum(col("v")).as("sv_c"),
        sum((col("v").cast("decimal(38,0)") * col("v"))
          .cast("decimal(38,0)")).as("svv_c"))
    val g = cells.agg(sum(col("n_c")).as("n_g"),
      sum(col("sv_c")).as("sv_g"),
      sum(col("svv_c")).as("svv_g"))
    val scored = cells.crossJoin(broadcast(g))
      .select(col("seg"), col("prio"), col("n_c"), col("n_g"),
        (col("sv_c").cast("decimal(38,0)") * col("n_g") -
          col("sv_g").cast("decimal(38,0)") * col("n_c")).as("dnum"),
        (col("n_g").cast("decimal(38,0)") * col("svv_g") -
          col("sv_g").cast("decimal(38,0)") * col("sv_g")).as("vnum"),
        (col("n_g").cast("decimal(38,0)") * (col("n_g") - 1)).as("vden"))
      .select(col("seg"), col("prio"), col("n_c"),
        when(col("dnum") === 0, lit(1.0)).otherwise(
          least(lit(1.0),
            col("vnum").cast("double") / col("vden").cast("double") *
              col("n_c") / (col("dnum").cast("double") / col("n_g").cast("double") /
                col("n_c").cast("double") *
                (col("dnum").cast("double") / col("n_g").cast("double") /
                  col("n_c").cast("double"))) /
              col("n_c") / col("n_c"))).as("p_bound"))
    // p = min(1, (V/W) / (n_c · Δ²)) with Δ = D/(n_g·n_c); the chain
    // above expands to (V/W)·n_c/Δ²/n_c/n_c = (V/W)/(n_c·Δ²) with an
    // explicit term order both engines share
    val ranked = scored
      .withColumn("m", count(lit(1)).over(Window.partitionBy()))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("p_bound"), col("seg"), col("prio"))))
      .withColumn("crit",
        col("rank").cast("double") * lit(alpha) / col("m").cast("double"))
    ranked
      .withColumn("k", max(when(col("p_bound") <= col("crit"), col("rank")))
        .over(Window.partitionBy()))
      .select(col("seg"), col("prio"), col("n_c").cast("bigint").as("n"),
        round(col("p_bound"), 8).as("p_bound"),
        col("rank").cast("bigint").as("p_rank"),
        round(col("crit"), 8).as("bh_crit"),
        when(col("rank") <= coalesce(col("k"), lit(0)), 1).otherwise(0)
          .as("rejected"))
      .orderBy(col("p_rank"))
  }

  val bhScreenSql: String =
    """WITH cells AS (SELECT c_mktsegment AS seg, o_orderpriority AS prio,
      |    count(*) AS n_c,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS sv_c,
      |    sum(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS HUGEINT)
      |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS svv_c
      |  FROM orders JOIN customer ON o_custkey = c_custkey
      |  GROUP BY 1, 2),
      |g AS (SELECT CAST(sum(n_c) AS BIGINT) AS n_g,
      |        CAST(sum(sv_c) AS HUGEINT) AS sv_g,
      |        CAST(sum(svv_c) AS HUGEINT) AS svv_g FROM cells),
      |sc AS (SELECT seg, prio, n_c,
      |         CAST(sv_c AS HUGEINT) * n_g - sv_g * n_c AS dnum,
      |         CAST(n_g AS HUGEINT) * svv_g - sv_g * sv_g AS vnum,
      |         CAST(n_g AS HUGEINT) * (n_g - 1) AS vden
      |       FROM cells, g),
      |p AS (SELECT seg, prio, n_c,
      |        CASE WHEN dnum = 0 THEN 1.0
      |          ELSE least(1.0,
      |            CAST(vnum AS DOUBLE) / CAST(vden AS DOUBLE) * n_c
      |            / ((CAST(dnum AS DOUBLE) / CAST((SELECT n_g FROM g) AS DOUBLE)
      |                / CAST(n_c AS DOUBLE))
      |               * (CAST(dnum AS DOUBLE) / CAST((SELECT n_g FROM g) AS DOUBLE)
      |                  / CAST(n_c AS DOUBLE)))
      |            / n_c / n_c)
      |        END AS p_bound
      |      FROM sc),
      |r AS (SELECT seg, prio, n_c, p_bound,
      |        count(*) OVER () AS m,
      |        row_number() OVER (ORDER BY p_bound, seg, prio) AS rnk
      |      FROM p),
      |c2 AS (SELECT *, CAST(rnk AS DOUBLE) * 0.10 / CAST(m AS DOUBLE) AS crit
      |       FROM r),
      |k AS (SELECT *, max(CASE WHEN p_bound <= crit THEN rnk END) OVER () AS kk
      |      FROM c2)
      |SELECT seg, prio, CAST(n_c AS BIGINT) AS n,
      |  round(p_bound, 8) AS p_bound,
      |  CAST(rnk AS BIGINT) AS p_rank, round(crit, 8) AS bh_crit,
      |  CAST(CASE WHEN rnk <= coalesce(kk, 0) THEN 1 ELSE 0 END AS INT)
      |    AS rejected
      |FROM k ORDER BY p_rank""".stripMargin

  /** W67 — Friedman rank test: do the order priorities draw different
    * monthly revenue, judged WITHIN each month? The blocked companion
    * to W61's Kruskal-Wallis — KW pools all observations into one
    * ranking (so a strong month-to-month trend swamps the treatment
    * signal); Friedman ranks the k priorities separately inside every
    * month block, which differences the calendar out, exactly the
    * repeated-measures design. Blocks = months carrying ALL k
    * priorities (an incomplete block has no complete ranking — the
    * classical requirement); within-block midranks use the integer
    * 2·midrank = 2·rank + ties − 1 trick (exact, engine-portable),
    * so the rank sums R2_j = Σ2·midrank and χ²_F = 3·ΣR2_j²/(nk(k+1))
    * − 3n(k+1) are exact integers until the terminal division.
    * Tie-corrected form divides by C = 1 − Σ(t³−t)/(n(k³−k)) (scipy's
    * convention). The block relation is bounded (months × priorities);
    * the one fact pass is the (month, priority) aggregate. */
  def friedman(s: SparkSession, dir: String): DataFrame = {
    // The cell relation is BOUNDED BY CONSTRUCTION (blk = month of
    // the fixed TPC-H order calendar ≤ 84 × trt = the priority enum
    // ≤ 5 ⇒ ≤ ~420 rows at ANY corpus size), so the block-rank
    // machinery runs locally over the collected cells (TradeGraph
    // bounded-metadata pattern) instead of two persists + two block
    // windows + three aggregates — the fact collapse above stays the
    // only distributed work. Identical arithmetic: integer midranks
    // (2·rnk + t − 1), BigInt rank-sum squares ≡ the DECIMAL(38,0)
    // sums, and the closing χ²/tie-correction double chain replayed
    // op for op under the same round(6).
    val cells = graft.Bounded.collect(Tables.orders(s, dir)
        .groupBy(date_trunc("month", to_date(col("o_orderdate"))).as("blk"),
          col("o_orderpriority").as("trt"))
        .agg(sum((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint")).as("v")),
      4096, "cells (months × priorities) in the Friedman blocks")
      .map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
    val k = cells.map(_._2).distinct.length
    val byBlk = cells.groupBy(_._1).filter(_._2.length == k)
    // per complete block: rank() (min rank of each tie group) and the
    // tie count t over the v order, then mr2 = 2·rnk + t − 1
    val mr2ByTrt = scala.collection.mutable.Map[String, (Long, Long)]()
    var tie3 = 0L
    byBlk.values.foreach { blkCells =>
      val sorted = blkCells.sortBy(_._3)
      val groups = sorted.groupBy(_._3)
      var seen = 0L
      sorted.map(_._3).distinct.sorted.foreach { v =>
        val g = groups(v)
        val t = g.length.toLong
        val rnk = seen + 1L // rank() = min rank of the tie group
        g.foreach { case (_, trt, _) =>
          val mr2 = 2L * rnk + t - 1L
          val (r2, nb) = mr2ByTrt.getOrElse(trt, (0L, 0L))
          mr2ByTrt(trt) = (r2 + mr2, nb + 1L)
        }
        tie3 += t * t * t - t
        seen += t
      }
    }
    val n = if (mr2ByTrt.isEmpty) 0L else mr2ByTrt.values.map(_._2).max
    val kk = mr2ByTrt.size.toLong
    val sr2 = mr2ByTrt.values.map { case (r2, _) => BigInt(r2) * BigInt(r2) }
      .foldLeft(BigInt(0))(_ + _)
    val degenerate = n == 0L || kk <= 1L
    val chi2raw = 3.0 * sr2.toDouble /
      (n.toDouble * kk * (kk + 1)) - 3.0 * n * (kk + 1)
    val chi2 = if (degenerate) 0.0 else Conv.round6(chi2raw)
    val c = 1.0 - tie3.toDouble / (n.toDouble * (kk * kk * kk - kk))
    val chi2Tie =
      if (degenerate) 0.0
      else if (c <= 0) 0.0
      else Conv.round6(chi2raw / c)
    import s.implicits._
    Seq((n, kk, chi2, chi2Tie))
      .toDF("n_blocks", "k_treatments", "chi2", "chi2_tie_corrected")
  }

  val friedmanSql: String =
    """WITH cells AS (SELECT date_trunc('month', CAST(o_orderdate AS DATE))
      |      AS blk, o_orderpriority AS trt,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS v
      |  FROM orders GROUP BY 1, 2),
      |kk AS (SELECT count(DISTINCT trt) AS k FROM cells),
      |comp AS (SELECT blk FROM cells GROUP BY blk
      |         HAVING count(*) = (SELECT k FROM kk)),
      |ranked AS (SELECT c.blk, c.trt, c.v,
      |             CAST(rank() OVER (PARTITION BY c.blk ORDER BY c.v)
      |               AS BIGINT) AS rnk,
      |             CAST(count(*) OVER (PARTITION BY c.blk, c.v) AS BIGINT)
      |               AS t
      |           FROM cells c JOIN comp USING (blk)),
      |mr AS (SELECT trt, 2 * rnk + t - 1 AS mr2 FROM ranked),
      |rs AS (SELECT trt, CAST(sum(mr2) AS BIGINT) AS r2, count(*) AS nb
      |       FROM mr GROUP BY trt),
      |tie AS (SELECT CAST(coalesce(sum(t * t * t - t), 0) AS BIGINT) AS tie3
      |        FROM (SELECT blk, v, max(t) AS t FROM ranked GROUP BY 1, 2)),
      |a AS (SELECT CAST(coalesce(max(nb), 0) AS BIGINT) AS n, count(*) AS kc,
      |        coalesce(sum(CAST(r2 AS HUGEINT) * r2), 0) AS sr2
      |      FROM rs)
      |SELECT n AS n_blocks, kc AS k_treatments,
      |  CASE WHEN n = 0 OR kc <= 1 THEN 0.0
      |       ELSE round(3.0 * CAST(sr2 AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * kc * (kc + 1))
      |         - 3.0 * n * (kc + 1), 6) END AS chi2,
      |  CASE WHEN n = 0 OR kc <= 1 THEN 0.0
      |       WHEN 1.0 - CAST(tie3 AS DOUBLE)
      |         / (CAST(n AS DOUBLE) * (kc * kc * kc - kc)) <= 0 THEN 0.0
      |       ELSE round((3.0 * CAST(sr2 AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * kc * (kc + 1))
      |           - 3.0 * n * (kc + 1))
      |         / (1.0 - CAST(tie3 AS DOUBLE)
      |           / (CAST(n AS DOUBLE) * (kc * kc * kc - kc))), 6)
      |  END AS chi2_tie_corrected
      |FROM a CROSS JOIN tie""".stripMargin

  /** W73 — standardized effect size between click and view event
    * values: Cohen's d on the pooled SD plus the small-sample Hedges'
    * g correction J = 1 − 3/(4N − 9) (Hedges 1981) — the MAGNITUDE
    * W35's Welch t cannot convey (a tiny p on a huge N can mean a
    * trivial effect; d is N-free). Same exact-integer micro-unit
    * sums as [[welchTtest]]; the d/g chain is the only floating
    * step, identically shaped in both engines. */
  def cohensD(s: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val g = Tables.events(s, dir)
      .filter(col("event_type").isin("click", "view"))
      .select(col("event_type"),
        floor(col("value") * 1e6).cast("bigint").as("v"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sv"),
        sum(col("v").cast(d19) * col("v").cast(d19)).as("svv"))
      .select(col("event_type"), col("n"),
        (col("sv").cast("double") / col("n")).as("mean_v"),
        ((col("svv") * col("n") - col("sv").cast(d19) * col("sv").cast(d19))
          .cast("double")
          / (col("n").cast("double") * (col("n") - lit(1)))).as("var_v"))
    val w = g.agg(
      max(when(col("event_type") === "click", col("n"))).as("n1"),
      max(when(col("event_type") === "click", col("mean_v"))).as("mean1"),
      max(when(col("event_type") === "click", col("var_v"))).as("var1"),
      max(when(col("event_type") === "view", col("n"))).as("n2"),
      max(when(col("event_type") === "view", col("mean_v"))).as("mean2"),
      max(when(col("event_type") === "view", col("var_v"))).as("var2"))
      .withColumn("s2p",
        ((col("n1") - 1) * col("var1") + (col("n2") - 1) * col("var2")) /
          (col("n1") + col("n2") - lit(2)).cast("double"))
    w.select(col("n1"), col("n2"),
      when(col("n1") + col("n2") <= 2 || col("s2p") <= 0, lit(0.0))
        .otherwise(round(
          (col("mean1") - col("mean2")) / sqrt(col("s2p")), 6))
        .as("cohens_d"),
      when(col("n1") + col("n2") <= 2 || col("s2p") <= 0, lit(0.0))
        .otherwise(round(
          (col("mean1") - col("mean2")) / sqrt(col("s2p")) *
            (lit(1.0) - lit(3.0) /
              (lit(4.0) * (col("n1") + col("n2")).cast("double") - 9)), 6))
        .as("hedges_g"))
  }

  val cohensDSql: String =
    """WITH v AS (SELECT event_type, CAST(floor(value * 1e6) AS BIGINT) AS v
      |  FROM events WHERE event_type IN ('click', 'view')),
      |g AS (SELECT event_type, count(*) AS n,
      |        CAST(sum(v) AS DOUBLE) / count(*) AS mean_v,
      |        CAST(CAST(sum(CAST(v AS DECIMAL(19,0)) * v) * count(*)
      |            - CAST(sum(v) AS DECIMAL(19,0)) * sum(v) AS DECIMAL(38,0))
      |          AS DOUBLE)
      |          / (CAST(count(*) AS DOUBLE) * (count(*) - 1)) AS var_v
      |      FROM v GROUP BY event_type),
      |p AS (SELECT
      |        max(CASE WHEN event_type = 'click' THEN n END) AS n1,
      |        max(CASE WHEN event_type = 'click' THEN mean_v END) AS mean1,
      |        max(CASE WHEN event_type = 'click' THEN var_v END) AS var1,
      |        max(CASE WHEN event_type = 'view' THEN n END) AS n2,
      |        max(CASE WHEN event_type = 'view' THEN mean_v END) AS mean2,
      |        max(CASE WHEN event_type = 'view' THEN var_v END) AS var2
      |      FROM g),
      |q AS (SELECT n1, n2, mean1, mean2,
      |        ((n1 - 1) * var1 + (n2 - 1) * var2)
      |          / CAST(n1 + n2 - 2 AS DOUBLE) AS s2p
      |      FROM p)
      |SELECT n1, n2,
      |  CASE WHEN n1 + n2 <= 2 OR s2p <= 0 THEN 0.0
      |       ELSE round((mean1 - mean2) / sqrt(s2p), 6) END AS cohens_d,
      |  CASE WHEN n1 + n2 <= 2 OR s2p <= 0 THEN 0.0
      |       ELSE round((mean1 - mean2) / sqrt(s2p)
      |         * (1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9)), 6)
      |  END AS hedges_g
      |FROM q""".stripMargin

  /** W74 — 2×2 odds ratio and relative risk with the Woolf log CI:
    * exposure = urgent-or-high order priority, outcome = fully
    * shipped (o_orderstatus = 'F'). OR = ad/bc, 95% CI =
    * exp(ln OR ± z·√(1/a + 1/b + 1/c + 1/d)) with z = 1.959964
    * (Woolf 1955), RR = risk_exposed / risk_unexposed — the effect
    * measures W7's χ² omits. Four exact cell counts from ONE
    * ungrouped aggregate; the ln/exp chain is the only floating
    * step, rounded to 6 on both engines. Any empty cell reads all
    * three ratios 0 by the documented convention. */
  def oddsRatio(s: SparkSession, dir: String): DataFrame = {
    val cells = Tables.orders(s, dir)
      .select(
        substring(col("o_orderpriority"), 1, 1).isin("1", "2").as("exposed"),
        (col("o_orderstatus") === "F").as("outcome"))
      .agg(
        sum(when(col("exposed") && col("outcome"), 1L).otherwise(0L)).as("a"),
        sum(when(col("exposed") && !col("outcome"), 1L).otherwise(0L)).as("b"),
        sum(when(!col("exposed") && col("outcome"), 1L).otherwise(0L)).as("c"),
        sum(when(!col("exposed") && !col("outcome"), 1L).otherwise(0L)).as("d"))
    val anyZero = col("a") === 0 || col("b") === 0 ||
      col("c") === 0 || col("d") === 0
    val lnOr = log(col("a").cast("double") * col("d") /
      (col("b").cast("double") * col("c")))
    val se = sqrt(lit(1.0) / col("a") + lit(1.0) / col("b") +
      lit(1.0) / col("c") + lit(1.0) / col("d"))
    cells.select(col("a"), col("b"), col("c"), col("d"),
      when(anyZero, lit(0.0)).otherwise(round(
        col("a").cast("double") * col("d") /
          (col("b").cast("double") * col("c")), 6)).as("odds_ratio"),
      when(anyZero, lit(0.0)).otherwise(round(
        (col("a").cast("double") / (col("a") + col("b"))) /
          (col("c").cast("double") / (col("c") + col("d"))), 6))
        .as("relative_risk"),
      when(anyZero, lit(0.0))
        .otherwise(round(exp(lnOr - lit(1.959964) * se), 6)).as("or_ci_lo"),
      when(anyZero, lit(0.0))
        .otherwise(round(exp(lnOr + lit(1.959964) * se), 6)).as("or_ci_hi"))
  }

  val oddsRatioSql: String =
    """WITH x AS (SELECT
      |    substring(o_orderpriority, 1, 1) IN ('1', '2') AS exposed,
      |    o_orderstatus = 'F' AS outcome
      |  FROM orders),
      |t AS (SELECT
      |    CAST(sum(CASE WHEN exposed AND outcome THEN 1 ELSE 0 END)
      |      AS BIGINT) AS a,
      |    CAST(sum(CASE WHEN exposed AND NOT outcome THEN 1 ELSE 0 END)
      |      AS BIGINT) AS b,
      |    CAST(sum(CASE WHEN NOT exposed AND outcome THEN 1 ELSE 0 END)
      |      AS BIGINT) AS c,
      |    CAST(sum(CASE WHEN NOT exposed AND NOT outcome THEN 1 ELSE 0 END)
      |      AS BIGINT) AS d
      |  FROM x)
      |SELECT a, b, c, d,
      |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 0.0
      |       ELSE round(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c), 6)
      |  END AS odds_ratio,
      |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 0.0
      |       ELSE round((CAST(a AS DOUBLE) / (a + b))
      |         / (CAST(c AS DOUBLE) / (c + d)), 6)
      |  END AS relative_risk,
      |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 0.0
      |       ELSE round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
      |         - 1.959964 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
      |  END AS or_ci_lo,
      |  CASE WHEN a = 0 OR b = 0 OR c = 0 OR d = 0 THEN 0.0
      |       ELSE round(exp(ln(CAST(a AS DOUBLE) * d / (CAST(b AS DOUBLE) * c))
      |         + 1.959964 * sqrt(1.0 / a + 1.0 / b + 1.0 / c + 1.0 / d)), 6)
      |  END AS or_ci_hi
      |FROM t""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cohens_d" -> (cohensD _),
    "q_odds_ratio" -> (oddsRatio _),
    "q_friedman" -> (friedman _),
    "q_bh_screen" -> ((s: SparkSession, d: String) => bhScreen(s, d)),
    "q_kruskal_wallis" -> (kruskalWallis _),
    "q_regr_multi" -> (regrMulti _),
    "q_did" -> (did _),
    "q_sample_size" -> (sampleSize _),
    "q_mcnemar" -> (mcnemar _),
    "q_welch_ttest" -> (welchTtest _),
    "q_wilson_ci" -> (wilsonCi _),
    "q_cuped" -> (cuped _),
    "q_bootstrap_ci" -> ((s: SparkSession, d: String) => bootstrapCi(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_cohens_d" -> cohensDSql,
    "q_odds_ratio" -> oddsRatioSql,
    "q_friedman" -> friedmanSql,
    "q_bh_screen" -> bhScreenSql,
    "q_kruskal_wallis" -> kruskalWallisSql,
    "q_regr_multi" -> regrMultiSql,
    "q_did" -> didSql,
    "q_sample_size" -> sampleSizeSql,
    "q_mcnemar" -> mcnemarSql,
    "q_welch_ttest" -> welchTtestSql,
    "q_wilson_ci" -> wilsonCiSql,
    "q_cuped" -> cupedSql,
    "q_bootstrap_ci" -> bootstrapCiSql,
  )
}
