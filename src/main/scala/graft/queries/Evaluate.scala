package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Round-10 evaluation & estimation pack: the measurement half of a
  * training-data platform — rank-correlation and variance-analysis
  * audits (Kendall τ-b, one-way ANOVA, Brown-Forsythe), retrieval
  * metrics next to NDCG (MRR, precision/recall@k), pairwise-preference
  * aggregation (Copeland tournament), link prediction (Adamic-Adar),
  * series autocorrelation (ACF), corpus readability scoring, and the
  * design-based estimation trio (Horvitz-Thompson totals, jackknife
  * ratio variance, capture-recapture population size). Conventions per
  * ARCHITECTURE.md "Cross-engine determinism": fact tables collapse to
  * bounded relations in ONE keyed aggregate, floating steps are either
  * exactly-rounded IEEE ops on exact integers or fixed-point-quantized
  * before any reduction, and every output ends in a total ORDER BY.
  */
object Evaluate {

  /** Shared per-flag monthly series (mon, x = revenue cents, y =
    * quantity basis points): the ONE fact-collapsing aggregate the
    * series family (kendallTau/ordinalAssoc, acf/pacf/ljungBox,
    * hodgesLehmann, durbinWatson) folds over.
    *
    * Staged ONCE per process and fixture dir through [[graft.Staged]]
    * (as [[TradeGraph]] is): the relation is BOUNDED BY CONSTRUCTION —
    * |flags| ≤ 3 (an enum) × |months| ≤ the fixed TPC-H shipdate calendar
    * (1992-1998, ≤ 84 values at ANY corpus size) ≤ ~252 rows of
    * (string, timestamp, long, long) — so collecting it is bounded
    * metadata, never a function of corpus size. Before the memo a
    * sweep re-ran the lineitem collapse once per consumer (seven
    * times); now the FIRST series query pays the one distributed
    * aggregate and the rest read the collected rows as a local
    * relation, which also turns every downstream self-join/window in
    * this family into local-relation work (no fact-table lineage under
    * 30+ Exchange nodes per query). Values are exact integer sums, so
    * every process stages identical rows; [[graft.Bounded]] fails the
    * build past 4,096 rows. */
  private def seriesRows(s: SparkSession, dir: String)
      : (org.apache.spark.sql.types.StructType, Array[org.apache.spark.sql.Row]) =
    graft.Staged.once("monthly_series", dir) {
      val df = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"),
          date_trunc("month", col("l_shipdate")).as("mon"))
        .agg(
          sum((col("l_extendedprice").cast("decimal(18,2)") * 100)
            .cast("bigint")).as("x"),
          sum((col("l_quantity").cast("decimal(18,2)") * 100)
            .cast("bigint")).as("y"))
      (df.schema, graft.Bounded.collect(df, 4096,
        "rows (|flags| × |calendar months|) in the monthly series stage"))
    }

  private def monthlySeries(s: SparkSession, dir: String): DataFrame = {
    val (schema, rows) = seriesRows(s, dir)
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
  }

  /** The staged series as per-flag (flag → x-series in month order,
    * ties impossible: mon is a group key) — the local form the
    * ACF-family drivers (acf/pacf/ljungBox) fold over. */
  private def seriesByFlag(s: SparkSession, dir: String): Seq[(String, Array[Long])] =
    seriesRows(s, dir)._2.toSeq
      .map(r => (r.getString(0), r.getTimestamp(1), r.getLong(2)))
      .groupBy(_._1).toSeq
      .map { case (f, rs) => f -> rs.sortBy(_._2.getTime).map(_._3).toArray }
      .sortBy(_._1)

  /** Local ACF over the staged series — the exact computation the
    * former 36-Exchange plan ran (c_t = n·x_t − S exact longs, BigInt
    * cross-products ≡ the decimal(38,0) sums, one rounded IEEE
    * division), per flag and lag 1..6; a lag row exists iff the lag
    * self-join had a pair (n > k), as before. */
  private def acfLocal(s: SparkSession, dir: String,
                       maxLag: Int = 6): Seq[(String, Int, Long, Double)] =
    seriesByFlag(s, dir).flatMap { case (flag, xs) =>
      val n = xs.length.toLong
      val sx = xs.sum // exact: cents sums stay far under 2⁶³ at bench SFs
      val c = xs.map(x => n * x - sx)
      val den = c.map(v => BigInt(v) * BigInt(v)).sum
      (1 to maxLag).filter(_ < xs.length).map { k =>
        val num = (0 until xs.length - k)
          .map(t => BigInt(c(t)) * BigInt(c(t + k))).sum
        val r = if (den == 0) 0.0
                else Conv.round6(num.toDouble / den.toDouble)
        (flag, k, n, r)
      }
    }

  private val monthlySeriesCte: String =
    """m AS MATERIALIZED (SELECT l_returnflag, date_trunc('month', l_shipdate) AS mon,
      |    CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS x,
      |    CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100
      |      AS BIGINT)) AS BIGINT) AS y
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin

  /** G30 — Kendall τ-b rank correlation: the CONCORDANCE companion to
    * Spearman (G10) — per return flag, do monthly revenue and monthly
    * quantity move together pair-by-pair? Concordant/discordant/tied
    * pair counts come from the flag-keyed month self-join (≤3.5k pairs
    * per group — the Mann-Kendall pair shape, never a fact cartesian);
    * τ-b = (C−D)/√((n₀−t_x)(n₀−t_y)) with the tie corrections t
    * counted per axis. Everything up to the final √ is exact integer
    * counting, so the one rounded double is cross-engine stable;
    * degenerate groups (an axis fully tied) read τ = 0. */
  /** Shared concordance census over the monthly (x, y) series: per
    * flag, (n, concordant, discordant, tx, ty) from the flag-keyed
    * month self-join — the ONE pair-counting pass kendallTau and
    * ordinalAssoc both read (τ-b, γ and Somers' D are three
    * normalizations of the same four counts). */
  private def concordanceCensus(s: SparkSession, dir: String): DataFrame = {
    val m = monthlySeries(s, dir) // local relation: no persist needed
    val a = m.select(col("l_returnflag"), col("mon").as("ma"),
      col("x").as("xa"), col("y").as("ya"))
    val b = m.select(col("l_returnflag"), col("mon").as("mb"),
      col("x").as("xb"), col("y").as("yb"))
    val pairs = a.join(b, Seq("l_returnflag")).filter(col("ma") < col("mb"))
      .groupBy(col("l_returnflag"))
      .agg(
        sum(((col("xa") < col("xb") && col("ya") < col("yb")) ||
          (col("xa") > col("xb") && col("ya") > col("yb"))).cast("long"))
          .as("concordant"),
        sum(((col("xa") < col("xb") && col("ya") > col("yb")) ||
          (col("xa") > col("xb") && col("ya") < col("yb"))).cast("long"))
          .as("discordant"),
        sum((col("xa") === col("xb")).cast("long")).as("tx"),
        sum((col("ya") === col("yb")).cast("long")).as("ty"))
    val base = m.groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    base.join(pairs, Seq("l_returnflag"), "left")
      .select(col("l_returnflag"), col("n"),
        coalesce(col("concordant"), lit(0L)).as("concordant"),
        coalesce(col("discordant"), lit(0L)).as("discordant"),
        coalesce(col("tx"), lit(0L)).as("tx"),
        coalesce(col("ty"), lit(0L)).as("ty"))
  }

  /** DuckDB twin of [[concordanceCensus]]: CTE `cc` = (l_returnflag,
    * n, concordant, discordant, tx, ty). */
  private val concordanceCensusCte: String =
    s"""$monthlySeriesCte,
      |p AS (SELECT a.l_returnflag,
      |        CAST(sum(CASE WHEN (a.x < b.x AND a.y < b.y)
      |                        OR (a.x > b.x AND a.y > b.y)
      |                 THEN 1 ELSE 0 END) AS BIGINT) AS concordant,
      |        CAST(sum(CASE WHEN (a.x < b.x AND a.y > b.y)
      |                        OR (a.x > b.x AND a.y < b.y)
      |                 THEN 1 ELSE 0 END) AS BIGINT) AS discordant,
      |        CAST(sum(CASE WHEN a.x = b.x THEN 1 ELSE 0 END) AS BIGINT)
      |          AS tx,
      |        CAST(sum(CASE WHEN a.y = b.y THEN 1 ELSE 0 END) AS BIGINT)
      |          AS ty
      |      FROM m a JOIN m b
      |        ON a.l_returnflag = b.l_returnflag AND a.mon < b.mon
      |      GROUP BY 1),
      |nn AS (SELECT l_returnflag, count(*) AS n FROM m GROUP BY 1),
      |cc AS (SELECT nn.l_returnflag, nn.n,
      |         CAST(coalesce(p.concordant, 0) AS BIGINT) AS concordant,
      |         CAST(coalesce(p.discordant, 0) AS BIGINT) AS discordant,
      |         CAST(coalesce(p.tx, 0) AS BIGINT) AS tx,
      |         CAST(coalesce(p.ty, 0) AS BIGINT) AS ty
      |       FROM nn LEFT JOIN p USING (l_returnflag))""".stripMargin

  def kendallTau(s: SparkSession, dir: String): DataFrame =
    concordanceCensus(s, dir)
      .select(col("l_returnflag"), col("n"), col("concordant"),
        col("discordant"),
        (expr("n * (n - 1) div 2") - col("tx")).as("dx"),
        (expr("n * (n - 1) div 2") - col("ty")).as("dy"))
      .select(col("l_returnflag"), col("n"), col("concordant"),
        col("discordant"),
        when(col("dx") <= 0 || col("dy") <= 0, lit(0.0))
          .otherwise(round(
            (col("concordant") - col("discordant")).cast("double") /
              sqrt(col("dx").cast("double") * col("dy").cast("double")), 6))
          .as("tau"))
      .orderBy(col("l_returnflag"))

  val kendallTauSql: String =
    s"""WITH $concordanceCensusCte,
      |d AS (SELECT l_returnflag, n, concordant, discordant,
      |        CAST(n * (n - 1) // 2 - tx AS BIGINT) AS dx,
      |        CAST(n * (n - 1) // 2 - ty AS BIGINT) AS dy
      |      FROM cc)
      |SELECT l_returnflag, n, concordant, discordant,
      |  CASE WHEN dx <= 0 OR dy <= 0 THEN 0.0
      |       ELSE round((concordant - discordant) /
      |         sqrt(CAST(dx AS DOUBLE) * CAST(dy AS DOUBLE)), 6)
      |  END AS tau
      |FROM d ORDER BY l_returnflag""".stripMargin

  /** G32 — ordinal association family (Goodman-Kruskal γ, Somers' D):
    * the two tie-handling alternatives to τ-b over the SAME
    * concordance census — γ ignores ties entirely ((C−D)/(C+D), the
    * measure for heavily-tied ordinal scales), Somers' D conditions on
    * the independent axis ((C−D)/(n₀−t_y), the asymmetric
    * regression-flavored variant). Exact integer counts; two rounded
    * divisions; degenerate denominators read 0. */
  def ordinalAssoc(s: SparkSession, dir: String): DataFrame =
    concordanceCensus(s, dir)
      .select(col("l_returnflag"), col("n"),
        (col("concordant") + col("discordant")).as("cd"),
        (col("concordant") - col("discordant")).as("diff"),
        (expr("n * (n - 1) div 2") - col("ty")).as("dy"))
      .select(col("l_returnflag"), col("n"),
        when(col("cd") <= 0, lit(0.0))
          .otherwise(round(col("diff").cast("double") /
            col("cd").cast("double"), 6)).as("gamma"),
        when(col("dy") <= 0, lit(0.0))
          .otherwise(round(col("diff").cast("double") /
            col("dy").cast("double"), 6)).as("somers_d"))
      .orderBy(col("l_returnflag"))

  val ordinalAssocSql: String =
    s"""WITH $concordanceCensusCte,
      |d AS (SELECT l_returnflag, n,
      |        concordant + discordant AS cd,
      |        concordant - discordant AS diff,
      |        CAST(n * (n - 1) // 2 - ty AS BIGINT) AS dy
      |      FROM cc)
      |SELECT l_returnflag, n,
      |  CASE WHEN cd <= 0 THEN 0.0
      |       ELSE round(CAST(diff AS DOUBLE) / cd, 6) END AS gamma,
      |  CASE WHEN dy <= 0 THEN 0.0
      |       ELSE round(CAST(diff AS DOUBLE) / dy, 6) END AS somers_d
      |FROM d ORDER BY l_returnflag""".stripMargin

  /** TS16 — autocorrelation function (lags 1-6): the serial-dependence
    * profile of the monthly revenue series per flag — the diagnostic
    * that chooses seasonal-naive vs EWMA vs Holt forecasting (TS9/
    * W11/TS15) by showing WHERE the memory is. Exactness: centered
    * values are pre-scaled by n (c_t = n·x_t − S, exact bigints), so
    * r_k = Σc_t·c_{t+k} / Σc_t² needs no floating mean; the cross
    * products overflow int64 and ride decimal(38,0) sums (order-free),
    * leaving one rounded IEEE division. Lags index the per-flag month
    * RANK, so a calendar gap does not null a lag — the series is
    * positional, as ACF over observed points is defined. */
  def acf(s: SparkSession, dir: String): DataFrame = {
    // Fully local over the staged bounded series ([[acfLocal]]): the
    // former plan carried 36 Exchange barriers (windows + lag
    // self-join + three broadcast joins) to move ≤252 rows around —
    // pure per-stage latency at any scale, since the data-scale work
    // is the ONE staged collapse in [[monthlySeries]]. Identical
    // arithmetic, identical row/lag semantics.
    import s.implicits._
    acfLocal(s, dir).toDF("l_returnflag", "lag_k", "n", "r")
      .orderBy(col("l_returnflag"), col("lag_k"))
  }

  val acfSql: String =
    s"""WITH $monthlySeriesCte,
      |st AS MATERIALIZED (SELECT l_returnflag, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx FROM m GROUP BY 1),
      |c AS MATERIALIZED (SELECT m.l_returnflag, st.n,
      |        row_number() OVER (PARTITION BY m.l_returnflag
      |          ORDER BY m.mon) AS rn,
      |        CAST(st.n * m.x - st.sx AS BIGINT) AS c
      |      FROM m JOIN st USING (l_returnflag)),
      |den AS (SELECT l_returnflag,
      |          sum(CAST(c AS HUGEINT) * c) AS den FROM c GROUP BY 1),
      |num AS (SELECT a.l_returnflag, l.lag_k,
      |          sum(CAST(a.c AS HUGEINT) * b.c) AS num
      |        FROM c a
      |        CROSS JOIN (SELECT CAST(unnest(range(1, 7)) AS INT) AS lag_k) l
      |        JOIN c b ON b.l_returnflag = a.l_returnflag
      |          AND b.rn = a.rn + l.lag_k
      |        GROUP BY 1, 2)
      |SELECT n.l_returnflag, n.lag_k, st.n,
      |  CASE WHEN d.den = 0 THEN 0.0
      |       ELSE round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
      |  END AS r
      |FROM num n JOIN den d USING (l_returnflag)
      |JOIN st USING (l_returnflag)
      |ORDER BY n.l_returnflag, n.lag_k""".stripMargin

  /** TS19 — partial autocorrelation (lags 1-3) by Durbin-Levinson:
    * the AR-order diagnostic next to TS16's ACF — pacf_k is the
    * correlation at lag k AFTER removing what shorter lags explain,
    * the standard "how many AR terms does this series need" readout.
    * Built FROM the round(6)-absorbed ACF values (r1..r3), so the
    * recursion is a fixed finite IEEE chain written identically on
    * both engines: φ11 = r1; φ22 = (r2 − r1²)/(1 − r1²);
    * φ21 = r1·(1 − φ22); φ33 = (r3 − φ21·r2 − φ22·r1)/
    * (1 − φ21·r1 − φ22·r2). Zero-denominator degeneracies emit 0.0 on
    * both sides. Corpus cost: the ONE monthly collapse ACF already
    * pays; everything after is 3 rows per group. */
  def pacf(s: SparkSession, dir: String): DataFrame = {
    // Local Durbin-Levinson over [[acfLocal]]'s lags 1..3 — the same
    // fixed IEEE chain the former column expressions evaluated, term
    // order preserved; series shorter than 4 months cannot supply the
    // r1..r3 panel (a regime the fixed 7-year fixture calendar never
    // enters) and fail loudly instead of emitting nulls.
    val byFlag = acfLocal(s, dir, maxLag = 3)
      .groupBy(_._1).toSeq.sortBy(_._1)
    val out = byFlag.map { case (flag, lags) =>
      require(lags.size == 3,
        s"pacf: flag $flag has only ${lags.size} ACF lags (series too short)")
      val n = lags.head._3
      val Seq(r1, r2, r3) = lags.sortBy(_._2).map(_._4)
      val phi22 = if (1.0 - r1 * r1 == 0) 0.0
                  else (r2 - r1 * r1) / (1.0 - r1 * r1)
      val phi21 = r1 * (1.0 - phi22)
      val pacf3 =
        if (1.0 - phi21 * r1 - phi22 * r2 == 0) 0.0
        else (r3 - phi21 * r2 - phi22 * r1) /
          (1.0 - phi21 * r1 - phi22 * r2)
      (flag, n, r1, Conv.round6(phi22), Conv.round6(pacf3))
    }
    import s.implicits._
    out.toDF("l_returnflag", "n_months", "pacf1", "pacf2", "pacf3")
      .orderBy(col("l_returnflag"))
  }

  val pacfSql: String =
    s"""WITH $monthlySeriesCte,
      |st AS MATERIALIZED (SELECT l_returnflag, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx FROM m GROUP BY 1),
      |c AS MATERIALIZED (SELECT m.l_returnflag, st.n,
      |        row_number() OVER (PARTITION BY m.l_returnflag
      |          ORDER BY m.mon) AS rn,
      |        CAST(st.n * m.x - st.sx AS BIGINT) AS c
      |      FROM m JOIN st USING (l_returnflag)),
      |den AS (SELECT l_returnflag,
      |          sum(CAST(c AS HUGEINT) * c) AS den FROM c GROUP BY 1),
      |num AS (SELECT a.l_returnflag, l.lag_k,
      |          sum(CAST(a.c AS HUGEINT) * b.c) AS num
      |        FROM c a
      |        CROSS JOIN (SELECT CAST(unnest(range(1, 4)) AS INT) AS lag_k) l
      |        JOIN c b ON b.l_returnflag = a.l_returnflag
      |          AND b.rn = a.rn + l.lag_k
      |        GROUP BY 1, 2),
      |r AS (SELECT n.l_returnflag, n.lag_k, st.n,
      |        CASE WHEN d.den = 0 THEN 0.0
      |             ELSE round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
      |        END AS r
      |      FROM num n JOIN den d USING (l_returnflag)
      |      JOIN st USING (l_returnflag)),
      |wdt AS (SELECT l_returnflag, n,
      |         min(CASE WHEN lag_k = 1 THEN r END) AS r1,
      |         min(CASE WHEN lag_k = 2 THEN r END) AS r2,
      |         min(CASE WHEN lag_k = 3 THEN r END) AS r3
      |       FROM r GROUP BY 1, 2),
      |p2 AS (SELECT *, CASE WHEN 1.0 - r1 * r1 = 0 THEN 0.0
      |         ELSE (r2 - r1 * r1) / (1.0 - r1 * r1) END AS phi22
      |       FROM wdt),
      |p3 AS (SELECT *, r1 * (1.0 - phi22) AS phi21 FROM p2)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_months, r1 AS pacf1,
      |  round(phi22, 6) AS pacf2,
      |  round(CASE WHEN 1.0 - phi21 * r1 - phi22 * r2 = 0 THEN 0.0
      |    ELSE (r3 - phi21 * r2 - phi22 * r1)
      |         / (1.0 - phi21 * r1 - phi22 * r2) END, 6) AS pacf3
      |FROM p3 ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // One-way ANOVA machinery (shared by anova and brownForsythe)
  // ---------------------------------------------------------------

  /** One-way ANOVA F over (g, v) rows, v an exact bigint measure. Sum
    * decomposition runs in exact integers with ONE floor per group:
    * q_g = ⌊S_g²/n_g⌋ (the between-group raw term) — squares ride
    * decimal(38,0)/HUGEINT, the integral `div` is floor on the always-
    * non-negative squares in both engines, and the ≤1-unit floor slack
    * per group is identical cross-engine because it is the SAME
    * integer arithmetic. SSB = Σq_g − ⌊S²/N⌋, SSW = Σv² − Σq_g; both
    * emit as bigint (exact for |SSW| < 2⁶³ — cents-scale measures
    * through sf ~100; the decimal(38,0) internal sums carry far
    * beyond). F = (SSB/(k−1))/(SSW/(N−k)) is the one double chain,
    * rounded to 6. */
  private def anovaF(xs: DataFrame): DataFrame = {
    val per = xs.groupBy(col("g"))
      .agg(count(lit(1)).as("nj"), sum(col("v")).as("sj"),
        sum((col("v").cast("decimal(38,0)") * col("v"))
          .cast("decimal(38,0)")).as("sxx"))
      .select(col("nj"), col("sj"), col("sxx"),
        expr("CAST(sj AS DECIMAL(38,0)) * sj div nj").as("qj"))
    per.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
        sum(col("sj")).as("s"), sum(col("qj")).as("sumq"),
        sum(col("sxx")).as("sumxx"))
      .select(col("k"), col("n"),
        // clamp at 0: the per-group ⌊S²/n⌋ floors each lose <1 unit,
        // so near-equal group means can land the raw difference in
        // [-k, 0) — a negative F is impossible and must read 0
        greatest(lit(0L),
          col("sumq") - expr("CAST(s AS DECIMAL(38,0)) * s div n"))
          .as("ssb"),
        (col("sumxx").cast("decimal(38,0)") - col("sumq"))
          .cast("bigint").as("ssw"),
        col("k").as("k2"), col("n").as("n2"))
      .select(col("k"), col("n"), col("ssb"), col("ssw"),
        when(col("k2") <= 1 || col("n2") <= col("k2") || col("ssw") <= 0,
          lit(0.0))
          .otherwise(round(
            (col("ssb").cast("double") / (col("k2") - 1).cast("double")) /
              (col("ssw").cast("double") /
                (col("n2") - col("k2")).cast("double")), 6))
          .as("f_stat"))
  }

  /** DuckDB twin of [[anovaF]] over a CTE named `xs` with columns
    * (g, v). */
  private def anovaFSql(withClauses: String): String =
    s"""$withClauses,
      |per AS (SELECT g, count(*) AS nj, CAST(sum(v) AS BIGINT) AS sj,
      |          sum(CAST(v AS HUGEINT) * v) AS sxx
      |        FROM xs GROUP BY g),
      |q AS (SELECT nj, sj, sxx,
      |        CAST(CAST(sj AS HUGEINT) * sj // nj AS HUGEINT) AS qj
      |      FROM per),
      |t AS (SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
      |        CAST(sum(sj) AS BIGINT) AS s, sum(qj) AS sumq,
      |        sum(sxx) AS sumxx FROM q)
      |SELECT k, n,
      |  greatest(CAST(0 AS BIGINT),
      |    CAST(sumq - CAST(s AS HUGEINT) * s // n AS BIGINT)) AS ssb,
      |  CAST(sumxx - sumq AS BIGINT) AS ssw,
      |  CASE WHEN k <= 1 OR n <= k
      |         OR CAST(sumxx - sumq AS BIGINT) <= 0 THEN 0.0
      |       ELSE round(
      |         (CAST(greatest(CAST(0 AS BIGINT),
      |            CAST(sumq - CAST(s AS HUGEINT) * s // n AS BIGINT))
      |            AS DOUBLE) / (k - 1)) /
      |         (CAST(CAST(sumxx - sumq AS BIGINT) AS DOUBLE) / (n - k)), 6)
      |  END AS f_stat
      |FROM t""".stripMargin

  /** W50 — one-way ANOVA: does mean account balance differ across
    * market segments? The F readout over customer balance cents —
    * the k-group generalization of the two-sample t (W19/W39 family).
    * One fact aggregate to k=5 group rows; see [[anovaF]] for the
    * exact-integer sum decomposition. */
  def anova(s: SparkSession, dir: String): DataFrame =
    anovaF(Tables.customer(s, dir).select(
      col("c_mktsegment").as("g"),
      (col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint").as("v")))

  val anovaSql: String = anovaFSql(
    """WITH xs AS (SELECT c_mktsegment AS g,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM customer)""".stripMargin)

  /** W51 — Brown-Forsythe homogeneity-of-variance test: ANOVA's
    * gatekeeper — W32's F assumes equal group variances; this tests
    * that assumption by running the SAME F machinery on absolute
    * deviations from each group's MEDIAN (the Brown-Forsythe robust
    * variant of Levene). Exactness: deviations are computed at 4×
    * scale — the interpolated median of even integers 4v is 2(a+b),
    * always an exact integer in double — so |4v − med4| is an exact
    * bigint and F is scale-invariant (F(c·z) = F(z)). */
  def brownForsythe(s: SparkSession, dir: String): DataFrame = {
    val x = Tables.customer(s, dir).select(
      col("c_mktsegment").as("g"),
      (col("c_acctbal").cast("decimal(18,2)") * 400).cast("bigint").as("v4"))
      .persistScoped() // median pass + deviation pass
    val med = x.groupBy(col("g"))
      .agg(expr("percentile(v4, 0.5D)").as("med4"))
    anovaF(x.join(broadcast(med), Seq("g"))
      .select(col("g"),
        abs(col("v4") - col("med4").cast("bigint")).as("v")))
  }

  val brownForsytheSql: String = anovaFSql(
    """WITH x4 AS MATERIALIZED (SELECT c_mktsegment AS g,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 400 AS BIGINT) AS v4
      |  FROM customer),
      |md AS (SELECT g, quantile_cont(v4, 0.5) AS med4 FROM x4 GROUP BY g),
      |xs AS (SELECT x4.g, abs(x4.v4 - CAST(md.med4 AS BIGINT)) AS v
      |       FROM x4 JOIN md USING (g))""".stripMargin)

  // ---------------------------------------------------------------
  // Retrieval metrics (share q_ndcg's exact top-k + label relevance)
  // ---------------------------------------------------------------

  /** The scored exact top-k with label relevance — q_ndcg's fixture
    * shape (probes = vec_id < 20, relevance = shared cluster label),
    * reused so MRR / P@k / NDCG grade the SAME retrieval run. */
  private def labeledTopK(s: SparkSession, dir: String, k: Int): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("lbl"))
    graft.operators.Similarity.bruteForceTopK(
        emb.filter(col("vec_id") < 20), emb, k)
      .join(labels.select(col("vec_id").as("probe_id"), col("lbl").as("pl")),
        Seq("probe_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"), col("lbl").as("nl")),
        Seq("neighbor_id"))
      .select(col("probe_id"), col("rnk"), col("pl"),
        (col("pl") === col("nl")).cast("long").as("rel"))
  }

  /** DuckDB twin of [[labeledTopK]]: CTE `r` = (probe_id, rnk, pl,
    * rel). */
  private def labeledTopKCte(k: Int): String =
    s"""n AS MATERIALIZED (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
      |             CAST(embedding AS DOUBLE[]) AS e,
      |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |               CAST(embedding AS DOUBLE[]))) AS nrm
      |           FROM embeddings),
      |scored AS (SELECT p.vec_id AS probe_id, p.lbl AS pl,
      |             c.vec_id AS neighbor_id, c.lbl AS nl,
      |             list_dot_product(p.e, c.e) / (p.nrm * c.nrm) AS cosine
      |           FROM n p JOIN n c ON p.vec_id < 20 AND p.vec_id <> c.vec_id),
      |r AS (SELECT probe_id, rnk, pl,
      |        CASE WHEN pl = nl THEN 1 ELSE 0 END AS rel
      |      FROM (SELECT *, row_number() OVER (PARTITION BY probe_id
      |              ORDER BY cosine DESC, neighbor_id) AS rnk
      |            FROM scored)
      |      WHERE rnk <= $k)""".stripMargin

  /** L36 — mean reciprocal rank (MRR@10): the first-hit metric next to
    * NDCG's graded gain — per probe, 1/rank of the FIRST relevant
    * neighbor in the exact cosine top-10 (0 when none), plus the
    * corpus MRR as the probe_id = −1 summary row. Reciprocals are
    * exact integral quanta (10¹² div rank), so the per-probe value and
    * the mean are both one exactly-rounded division. */
  def mrr(s: SparkSession, dir: String): DataFrame = {
    val perProbe = labeledTopK(s, dir, 10)
      .groupBy(col("probe_id"))
      .agg(min(when(col("rel") === 1, col("rnk"))).as("fr"))
      .select(col("probe_id"),
        coalesce(col("fr"), lit(0)).cast("int").as("first_rel"),
        coalesce(expr("1000000000000L div fr"), lit(0L)).as("rr_q"))
      .persistScoped() // per-probe rows + the mean row
    val rows = perProbe.select(col("probe_id"), col("first_rel"),
      round(col("rr_q").cast("double") / 1e12, 6).as("rr"))
    val mean = perProbe.agg(count(lit(1)).as("np"), sum(col("rr_q")).as("sq"))
      .select(lit(-1L).as("probe_id"), lit(0).as("first_rel"),
        round(col("sq").cast("double") / col("np").cast("double") / 1e12, 6)
          .as("rr"))
    rows.unionAll(mean).orderBy(col("probe_id"))
  }

  val mrrSql: String = {
    s"""WITH ${labeledTopKCte(10)},
      |pp AS (SELECT probe_id,
      |         CAST(coalesce(min(CASE WHEN rel = 1 THEN rnk END), 0)
      |           AS INT) AS first_rel,
      |         CAST(coalesce(1000000000000 //
      |           min(CASE WHEN rel = 1 THEN rnk END), 0) AS BIGINT) AS rr_q
      |       FROM r GROUP BY probe_id)
      |SELECT probe_id, first_rel,
      |  round(CAST(rr_q AS DOUBLE) / 1e12, 6) AS rr FROM pp
      |UNION ALL
      |SELECT CAST(-1 AS BIGINT) AS probe_id, 0 AS first_rel,
      |  round(CAST(sum(rr_q) AS DOUBLE) / count(*) / 1e12, 6) AS rr
      |FROM pp
      |ORDER BY probe_id""".stripMargin
  }

  /** L37 — precision/recall@5: the set-overlap retrieval readout next
    * to NDCG (rank-weighted) and MRR (first hit) — per probe,
    * |relevant ∩ top-5|/5 and /|relevant in corpus| (the probe's
    * cluster size minus itself). Both are single exactly-rounded
    * divisions of exact counts; probes whose cluster is a singleton
    * read recall 0. */
  def precisionAtK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val clusterSizes = emb.select(col("label").cast("long").as("pl"))
      .groupBy(col("pl")).agg(count(lit(1)).as("csize"))
    labeledTopK(s, dir, 5)
      .groupBy(col("probe_id"), col("pl"))
      .agg(sum(col("rel")).as("n_rel5"))
      .join(broadcast(clusterSizes), Seq("pl"))
      .select(col("probe_id"), col("n_rel5"),
        (col("csize") - 1).as("n_rel_corpus"),
        round(col("n_rel5").cast("double") / 5d, 6).as("p_at_5"),
        when(col("csize") <= 1, lit(0.0))
          .otherwise(round(col("n_rel5").cast("double") /
            (col("csize") - 1).cast("double"), 6)).as("r_at_5"))
      .orderBy(col("probe_id"))
  }

  val precisionAtKSql: String =
    s"""WITH ${labeledTopKCte(5)},
      |cs AS (SELECT CAST(label AS BIGINT) AS pl, count(*) AS csize
      |       FROM embeddings GROUP BY 1),
      |pp AS (SELECT probe_id, pl, CAST(sum(rel) AS BIGINT) AS n_rel5
      |       FROM r GROUP BY 1, 2)
      |SELECT pp.probe_id, pp.n_rel5,
      |  CAST(cs.csize - 1 AS BIGINT) AS n_rel_corpus,
      |  round(CAST(pp.n_rel5 AS DOUBLE) / 5, 6) AS p_at_5,
      |  CASE WHEN cs.csize <= 1 THEN 0.0
      |       ELSE round(CAST(pp.n_rel5 AS DOUBLE) / (cs.csize - 1), 6)
      |  END AS r_at_5
      |FROM pp JOIN cs USING (pl) ORDER BY pp.probe_id""".stripMargin

  /** W52 — Copeland pairwise-preference aggregation: the tournament
    * rule that turns per-context pairwise comparisons into one global
    * ranking — the shape of LLM-eval leaderboards built from pairwise
    * preference judgments. Contexts are languages; source a beats
    * source b in a language iff its mean distinct-word score is higher
    * (means compared EXACTLY by integer cross-multiplication — no
    * float mean ever materializes). A source's Copeland score is
    * 2·(#rivals beaten on language majorities) + (#rivals tied),
    * integer end-to-end. Scale shape: one fact aggregate to the
    * (lang × source) relation; every pairwise structure after is over
    * the ≤|sources|² bounded relation. Pairs that never share a
    * language are not compared (no langs in common = no evidence). */
  def copeland(s: SparkSession, dir: String): DataFrame = {
    val ls = Tables.documents(s, dir)
      .withColumn("w", split(col("text"), " "))
      .filter(size(col("w")) > 0)
      .groupBy(col("lang"), col("source"))
      .agg(sum(size(array_distinct(col("w"))).cast("long")).as("sw"),
        count(lit(1)).as("nd"))
      .persistScoped() // both sides of the pairwise join
    val duels = ls.as("a")
      .join(ls.as("b"),
        col("a.lang") === col("b.lang") && col("a.source") =!= col("b.source"))
      .groupBy(col("a.source").as("u"), col("b.source").as("v"))
      .agg(sum((col("a.sw") * col("b.nd") > col("b.sw") * col("a.nd"))
        .cast("long")).as("wins"))
      .persistScoped() // self-joined on the reversed pair
    val faced = duels.as("x")
      .join(duels.as("y"),
        col("x.u") === col("y.v") && col("x.v") === col("y.u"))
      .select(col("x.u").as("source"), col("x.wins").as("wu"),
        col("y.wins").as("wv"))
    faced.groupBy(col("source"))
      .agg(sum((col("wu") > col("wv")).cast("long")).as("beats"),
        sum((col("wu") === col("wv")).cast("long")).as("ties"))
      .select(col("source"), col("beats"), col("ties"),
        (lit(2) * col("beats") + col("ties")).as("copeland2"))
      .withColumn("rank", row_number().over(
        Window.orderBy(col("copeland2").desc, col("source"))))
      .orderBy(col("rank"))
  }

  val copelandSql: String =
    """WITH ls AS MATERIALIZED (SELECT lang, source,
      |    CAST(sum(len(list_distinct(w))) AS BIGINT) AS sw,
      |    count(*) AS nd
      |  FROM (SELECT lang, source, string_split(text, ' ') AS w
      |        FROM documents)
      |  WHERE len(w) > 0 GROUP BY 1, 2),
      |duels AS MATERIALIZED (SELECT a.source AS u, b.source AS v,
      |            CAST(sum(CASE WHEN a.sw * b.nd > b.sw * a.nd
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS wins
      |          FROM ls a JOIN ls b
      |            ON a.lang = b.lang AND a.source <> b.source
      |          GROUP BY 1, 2),
      |faced AS (SELECT x.u AS source, x.wins AS wu, y.wins AS wv
      |          FROM duels x JOIN duels y ON x.u = y.v AND x.v = y.u),
      |sc AS (SELECT source,
      |         CAST(sum(CASE WHEN wu > wv THEN 1 ELSE 0 END) AS BIGINT)
      |           AS beats,
      |         CAST(sum(CASE WHEN wu = wv THEN 1 ELSE 0 END) AS BIGINT)
      |           AS ties
      |       FROM faced GROUP BY source)
      |SELECT source, beats, ties,
      |  CAST(2 * beats + ties AS BIGINT) AS copeland2,
      |  CAST(row_number() OVER (ORDER BY 2 * beats + ties DESC, source)
      |    AS INT) AS rank
      |FROM sc ORDER BY rank""".stripMargin

  /** W53 — Adamic-Adar link scoring: common-neighbor similarity that
    * discounts promiscuous hubs — the classic link-prediction feature
    * over the nation trade graph (edge = any customer in u buys from
    * any supplier in v). Per node pair, AA = Σ_z 1/log₂(deg z) over
    * common neighbors z with deg ≥ 2, each term floor-quantized to
    * 10¹² units (the q_ndcg discount convention — integer sums, no
    * float reduction). Scale shape: ONE fact-fact join collapses
    * lineitem×orders to the ≤|nations|² distinct edge set; every graph
    * step after runs on that bounded relation. `is_edge` marks pairs
    * already adjacent (scores on non-edges are the link predictions;
    * on edges, a strength audit). */
  def adamicAdar(s: SparkSession, dir: String): DataFrame = {
    // The nation trade graph's star-join collapse is exactly
    // [[TradeGraph.undirected]] (self-loops dropped, endpoints
    // ordered, distinct pairs) — staged once per process; this query
    // used to be the ONE graph consumer still re-running the 4-way
    // corpus join itself. Everything below runs on the ≤|nations)²
    // local relation, so the persists go too.
    val edges = TradeGraph.undirectedDf(s, dir).select(col("u"), col("v"))
    val adj = edges.select(col("u").as("node"), col("v").as("nb"))
      .unionAll(edges.select(col("v").as("node"), col("u").as("nb")))
    val wz = adj.groupBy(col("nb")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2)
      .select(col("nb"),
        expr("CAST(floor(1e12 / log2(CAST(deg AS DOUBLE))) AS BIGINT)")
          .as("wq"))
    val pairs = adj.as("x")
      .join(adj.as("y"),
        col("x.nb") === col("y.nb") && col("x.node") < col("y.node"))
      .join(broadcast(wz.withColumnRenamed("nb", "z")),
        col("x.nb") === col("z"))
      .groupBy(col("x.node").as("u"), col("y.node").as("v"))
      .agg(count(lit(1)).as("n_common"), sum(col("wq")).as("aa_micro"))
    pairs.join(edges.withColumn("is_edge", lit(1)), Seq("u", "v"), "left")
      .select(col("u"), col("v"), col("n_common"), col("aa_micro"),
        coalesce(col("is_edge"), lit(0)).as("is_edge"))
      .orderBy(col("u"), col("v"))
  }

  val adamicAdarSql: String =
    """WITH e0 AS MATERIALIZED (SELECT DISTINCT
      |    least(c.c_nationkey, s.s_nationkey) AS u,
      |    greatest(c.c_nationkey, s.s_nationkey) AS v
      |  FROM lineitem l
      |  JOIN orders o ON l.l_orderkey = o.o_orderkey
      |  JOIN customer c ON o.o_custkey = c.c_custkey
      |  JOIN supplier s ON l.l_suppkey = s.s_suppkey
      |  WHERE c.c_nationkey <> s.s_nationkey),
      |adj AS MATERIALIZED (SELECT u AS node, v AS nb FROM e0
      |        UNION ALL SELECT v, u FROM e0),
      |wz AS (SELECT nb, CAST(floor(1e12 / log2(CAST(count(*) AS DOUBLE)))
      |           AS BIGINT) AS wq
      |       FROM adj GROUP BY nb HAVING count(*) >= 2),
      |p AS (SELECT x.node AS u, y.node AS v, count(*) AS n_common,
      |        CAST(sum(w.wq) AS BIGINT) AS aa_micro
      |      FROM adj x JOIN adj y ON x.nb = y.nb AND x.node < y.node
      |      JOIN wz w ON w.nb = x.nb
      |      GROUP BY 1, 2)
      |SELECT p.u, p.v, p.n_common, p.aa_micro,
      |  CASE WHEN e0.u IS NULL THEN 0 ELSE 1 END AS is_edge
      |FROM p LEFT JOIN e0 ON e0.u = p.u AND e0.v = p.v
      |ORDER BY p.u, p.v""".stripMargin

  /** L38 — Flesch reading-ease profile: the readability member of the
    * text-quality family (L4) — per language, 206.835 − 1.015·(W/S) −
    * 84.6·(SYL/W) over corpus-aggregate word / sentence / syllable
    * counts (sentence ≈ terminal-punctuation runs, syllable ≈ vowel
    * groups — the standard regex proxies). Counts are exact integer
    * sums; the score is one fixed-literal double chain, rounded to 4.
    * Per-doc floors (≥1 sentence, ≥1 syllable) keep degenerate rows
    * from zeroing a denominator. */
  def readability(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        size(split(col("text"), " ")).cast("long").as("w"),
        greatest(lit(1L),
          regexp_count(col("text"), lit("[.!?]+")).cast("long")).as("sen"),
        greatest(lit(1L),
          regexp_count(lower(col("text")), lit("[aeiouy]+")).cast("long"))
          .as("syl"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("w")).as("words"),
        sum(col("sen")).as("sentences"), sum(col("syl")).as("syllables"))
      .select(col("lang"), col("n_docs"), col("words"), col("sentences"),
        col("syllables"),
        round(lit(206.835) -
          lit(1.015) * col("words").cast("double") /
            col("sentences").cast("double") -
          lit(84.6) * col("syllables").cast("double") /
            col("words").cast("double"), 4).as("fre"))
      .orderBy(col("lang"))

  val readabilitySql: String =
    """WITH d AS (SELECT lang,
      |    CAST(len(string_split(text, ' ')) AS BIGINT) AS w,
      |    greatest(CAST(1 AS BIGINT),
      |      CAST(len(regexp_extract_all(text, '[.!?]+')) AS BIGINT)) AS sen,
      |    greatest(CAST(1 AS BIGINT),
      |      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
      |        AS BIGINT)) AS syl
      |  FROM documents),
      |g AS (SELECT lang, count(*) AS n_docs, CAST(sum(w) AS BIGINT) AS words,
      |        CAST(sum(sen) AS BIGINT) AS sentences,
      |        CAST(sum(syl) AS BIGINT) AS syllables
      |      FROM d GROUP BY lang)
      |SELECT lang, n_docs, words, sentences, syllables,
      |  round(CAST(206.835 AS DOUBLE) -
      |    CAST(1.015 AS DOUBLE) * words / sentences -
      |    CAST(84.6 AS DOUBLE) * syllables / words, 4) AS fre
      |FROM g ORDER BY lang""".stripMargin

  /** C13 — Horvitz-Thompson estimation under unequal-probability
    * sampling: the DESIGN-BASED estimator that makes a biased sample
    * unbiased — orders sample at π = 1/10 (low-value), 1/2 (mid), 1
    * (high-value certainty stratum) on the deterministic md5 coin, and
    * each sampled row is inverse-probability weighted (×10/×2/×1 —
    * exact integer weights, so the HT total is an exact bigint). The
    * per-priority readout compares the estimate against the true total
    * the fixture can still compute — the audit a real pipeline runs on
    * a holdout before trusting HT at 100 TB (where ONLY the sample is
    * ever scanned). */
  def horvitzThompson(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .select(col("o_orderpriority"),
        (col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint")
          .as("cents"),
        expr("CAST(conv(substring(md5(CAST(o_orderkey AS STRING)), 1, 8), " +
          "16, 10) AS BIGINT) % 10").as("coin"))
      .withColumn("wt",
        when(col("cents") < 16500000L, when(col("coin") < 1, 10L))
          .when(col("cents") < 33000000L, when(col("coin") < 5, 2L))
          .otherwise(lit(1L)))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_total"),
        sum(col("cents")).as("true_cents"),
        sum(when(col("wt").isNotNull, 1L).otherwise(0L)).as("n_sampled"),
        sum(coalesce(col("wt") * col("cents"), lit(0L))).as("est_cents"))
      .select(col("o_orderpriority"), col("n_total"), col("n_sampled"),
        col("true_cents"), col("est_cents"),
        round((col("est_cents") - col("true_cents")).cast("double") /
          col("true_cents").cast("double"), 6).as("rel_err"))
      .orderBy(col("o_orderpriority"))

  val horvitzThompsonSql: String =
    """WITH o AS (SELECT o_orderpriority,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents,
      |    CAST(concat('0x', substring(md5(CAST(o_orderkey AS VARCHAR)),
      |      1, 8)) AS BIGINT) % 10 AS coin
      |  FROM orders),
      |w AS (SELECT o_orderpriority, cents,
      |        CASE WHEN cents < 16500000 THEN
      |               CASE WHEN coin < 1 THEN 10 END
      |             WHEN cents < 33000000 THEN
      |               CASE WHEN coin < 5 THEN 2 END
      |             ELSE 1 END AS wt
      |      FROM o)
      |SELECT o_orderpriority, count(*) AS n_total,
      |  CAST(sum(CASE WHEN wt IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_sampled,
      |  CAST(sum(cents) AS BIGINT) AS true_cents,
      |  CAST(sum(coalesce(wt * cents, 0)) AS BIGINT) AS est_cents,
      |  round(CAST(sum(coalesce(wt * cents, 0)) - sum(cents) AS DOUBLE) /
      |    CAST(sum(cents) AS DOUBLE), 6) AS rel_err
      |FROM w GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  /** G31 — delete-one jackknife variance of a ratio estimator: the
    * standard error a plain variance formula CANNOT give for
    * R = Σrev/Σqty (a ratio of two correlated totals) — each row's
    * leave-one-out replicate R₍ᵢ₎ = (S_a−aᵢ)/(S_b−bᵢ) is one narrow
    * exactly-rounded division against broadcast group totals,
    * floor-quantized to 10⁻⁹ units so the replicate moments are exact
    * integer/decimal sums (order-free) — the var-of-replicates then
    * runs as one double chain per group. Scale shape: two fact passes
    * (totals, replicates), zero fact-table windows. */
  def jackknifeRatio(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_returnflag"),
      (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
        .as("a"),
      (col("l_quantity").cast("decimal(18,2)") * 100).cast("bigint").as("b"))
    val tot = li.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("a")).as("sa"),
        sum(col("b")).as("sb"))
    li.join(broadcast(tot), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("sa"), col("sb"),
        // a one-row group (or a row owning its group's whole quantity
        // total) makes sb - b = 0: Spark would cast the Infinity
        // replicate to Long.MaxValue while DuckDB errors on
        // CAST(inf AS BIGINT) — emit 0 in BOTH engines instead
        expr("CASE WHEN sb - b > 0 THEN CAST(floor(CAST(sa - a AS DOUBLE)" +
          " / CAST(sb - b AS DOUBLE) * 1e9) AS BIGINT)" +
          " ELSE CAST(0 AS BIGINT) END").as("q"))
      .groupBy(col("l_returnflag"), col("n"), col("sa"), col("sb"))
      .agg(sum(col("q").cast("decimal(38,0)")).as("sq"),
        sum((col("q").cast("decimal(38,0)") * col("q"))
          .cast("decimal(38,0)")).as("sq2"))
      .select(col("l_returnflag"), col("n"),
        round(col("sa").cast("double") / col("sb").cast("double"), 6)
          .as("r_hat"),
        round(
          sqrt(greatest(lit(0.0),
            (col("n") - 1).cast("double") / col("n").cast("double") *
              (col("sq2").cast("double") -
                col("sq").cast("double") * col("sq").cast("double") /
                  col("n").cast("double")))) / 1e9, 6).as("jk_se"))
      .orderBy(col("l_returnflag"))
  }

  val jackknifeRatioSql: String =
    """WITH li AS MATERIALIZED (SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS a,
      |    CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS b
      |  FROM lineitem),
      |tot AS (SELECT l_returnflag, count(*) AS n,
      |          CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb
      |        FROM li GROUP BY 1),
      |q AS (SELECT li.l_returnflag, t.n, t.sa, t.sb,
      |        CASE WHEN t.sb - li.b > 0
      |             THEN CAST(floor(CAST(t.sa - li.a AS DOUBLE) /
      |               CAST(t.sb - li.b AS DOUBLE) * 1e9) AS BIGINT)
      |             ELSE CAST(0 AS BIGINT) END AS q
      |      FROM li JOIN tot t USING (l_returnflag)),
      |g AS (SELECT l_returnflag, n, sa, sb,
      |        sum(CAST(q AS HUGEINT)) AS sq,
      |        sum(CAST(q AS HUGEINT) * q) AS sq2
      |      FROM q GROUP BY 1, 2, 3, 4)
      |SELECT l_returnflag, n,
      |  round(CAST(sa AS DOUBLE) / CAST(sb AS DOUBLE), 6) AS r_hat,
      |  round(sqrt(greatest(CAST(0 AS DOUBLE),
      |    (n - 1) / CAST(n AS DOUBLE) *
      |      (CAST(sq2 AS DOUBLE) -
      |        CAST(sq AS DOUBLE) * CAST(sq AS DOUBLE) / n))) / 1e9, 6)
      |    AS jk_se
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** L39 — capture-recapture corpus-size estimation: how many DISTINCT
    * texts exist per language when you can only afford two overlapping
    * crawl samples? Chapman's estimator (n₁+1)(n₂+1)/(m+1) − 1 over
    * two deterministic doc_id-keyed samples (%2 / %3 — overlap %6),
    * marks = distinct text md5s. Integer end-to-end (one integral
    * floor div); the fixture emits the TRUE distinct count beside the
    * estimate — the calibration a real deployment does once on a
    * holdout before using the estimator where the full census is
    * unaffordable. */
  def captureRecapture(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), md5(col("text")).as("h"),
        (col("doc_id") % 2 === 0).cast("int").as("in1"),
        (col("doc_id") % 3 === 0).cast("int").as("in2"))
      .groupBy(col("lang"), col("h"))
      .agg(max(col("in1")).as("a1"), max(col("in2")).as("a2"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("true_distinct"),
        sum(col("a1")).cast("bigint").as("n1"),
        sum(col("a2")).cast("bigint").as("n2"),
        sum(col("a1") * col("a2")).cast("bigint").as("m"))
      .select(col("lang"), col("n1"), col("n2"), col("m"),
        (expr("(n1 + 1) * (n2 + 1) div (m + 1)") - 1).as("chapman"),
        col("true_distinct"))
      .orderBy(col("lang"))

  val captureRecaptureSql: String =
    """WITH h AS (SELECT lang, md5(text) AS h,
      |    CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS in1,
      |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS in2
      |  FROM documents),
      |ph AS (SELECT lang, h, max(in1) AS a1, max(in2) AS a2
      |       FROM h GROUP BY 1, 2),
      |g AS (SELECT lang, count(*) AS true_distinct,
      |        CAST(sum(a1) AS BIGINT) AS n1, CAST(sum(a2) AS BIGINT) AS n2,
      |        CAST(sum(a1 * a2) AS BIGINT) AS m
      |      FROM ph GROUP BY lang)
      |SELECT lang, n1, n2, m,
      |  CAST((n1 + 1) * (n2 + 1) // (m + 1) - 1 AS BIGINT) AS chapman,
      |  true_distinct
      |FROM g ORDER BY lang""".stripMargin

  /** W54 — log-rank test: the two-group survival comparison on top of
    * TS12's Kaplan-Meier curve — do BUILDING-segment orders fulfill on
    * a different time-to-first-ship distribution than the rest? At
    * each event day t over the shared risk table, the group-1 expected
    * deaths dₜ·n₁ₜ/nₜ and the hypergeometric variance term are
    * floor-quantized to 10⁻⁹ via exact decimal/HUGEINT integer
    * division, so O−E and V accumulate as exact integer sums over the
    * ≤91-row bounded day spine; χ² = (O·10⁹−ΣE_q)²/(ΣV_q·10⁹) is the
    * one double chain at the end. Same duration/censoring convention
    * as TS12 (90-day cap, at-risk from the reverse-cumulative leave
    * counts). */
  def logrank(s: SparkSession, dir: String): DataFrame = {
    val seg = Tables.customer(s, dir).select(col("c_custkey"),
      (col("c_mktsegment") === "BUILDING").cast("long").as("g"))
    val dur = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
          .select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"), col("o_orderdate"), col("o_custkey"))
      .agg(min(col("l_shipdate").cast("date")).as("first_ship"))
      .join(broadcast(seg), col("o_custkey") === col("c_custkey"))
      .select(datediff(col("first_ship"), col("o_orderdate").cast("date"))
        .as("dur"), col("g"))
      .filter(col("dur") >= 0)
      .select(least(col("dur"), lit(90)).as("t"),
        (col("dur") <= 90).cast("long").as("died"), col("g"))
    // The day spine is BOUNDED BY CONSTRUCTION (t ∈ [0, 90] ⇒ ≤91
    // rows at ANY corpus size), so the risk-table machinery runs
    // locally over the collected rows (TradeGraph bounded-metadata
    // pattern) instead of two single-partition suffix windows plus a
    // final aggregate — the fact collapse above stays the only
    // distributed work. Identical arithmetic: the 10⁻⁹ quantized
    // expectation/variance terms are exact integer floor divisions
    // (BigInt ≡ the DECIMAL(38,0) div chain), and the closing χ²
    // double chain is replayed op for op.
    val spine = graft.Bounded.collect(dur.groupBy(col("t"))
        .agg(sum(col("died") * col("g")).as("d1"), sum(col("died")).as("d"),
          sum(col("g")).as("leave1"), count(lit(1)).as("leave")),
      91, "rows (t = least(dur, 90)) in the logrank spine")
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
      .sortBy(_._1)
    var n1 = spine.map(_._4).sum
    var n = spine.map(_._5).sum
    val nG1 = n1
    val nG0 = n - n1
    var observed1 = 0L
    var e1q = 0L
    var vq = 0L
    spine.foreach { case (_, d1, d, leave1, leave) =>
      observed1 += d1
      if (n > 0)
        e1q += (BigInt(d) * n1 * 1000000000L / n).toLong
      if (n > 1)
        vq += (BigInt(d) * n1 * (n - n1) * (n - d) * 1000000000L /
          (BigInt(n) * n * (n - 1))).toLong
      n1 -= leave1
      n -= leave
    }
    val chi2 =
      if (vq <= 0L) 0.0
      else {
        val om = observed1.toDouble * 1e9 - e1q.toDouble
        Conv.round6(om * om / (vq.toDouble * 1e9))
      }
    val verdict = if (chi2 >= 3.841459) "different" else "no_evidence"
    import s.implicits._
    Seq((nG1, nG0, observed1, e1q, vq, chi2, verdict))
      .toDF("n_g1", "n_g0", "observed1", "expected1_nano", "var_nano",
        "chi2", "verdict")
  }

  val logrankSql: String =
    """WITH seg AS (SELECT c_custkey,
      |    CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END AS g
      |  FROM customer),
      |dur0 AS (SELECT o.o_orderkey, o.o_orderdate, o.o_custkey,
      |           min(CAST(l.l_shipdate AS DATE)) AS first_ship
      |         FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |         GROUP BY 1, 2, 3),
      |d AS (SELECT least(datediff('day', CAST(o.o_orderdate AS DATE),
      |          o.first_ship), 90) AS t,
      |        CASE WHEN datediff('day', CAST(o.o_orderdate AS DATE),
      |          o.first_ship) <= 90 THEN 1 ELSE 0 END AS died,
      |        s.g
      |      FROM dur0 o JOIN seg s ON o.o_custkey = s.c_custkey
      |      WHERE datediff('day', CAST(o.o_orderdate AS DATE),
      |        o.first_ship) >= 0),
      |spine AS (SELECT t, CAST(sum(died * g) AS BIGINT) AS d1,
      |            CAST(sum(died) AS BIGINT) AS d,
      |            CAST(sum(g) AS BIGINT) AS leave1,
      |            count(*) AS leave
      |          FROM d GROUP BY t),
      |ar AS (SELECT d1, leave1, leave, d,
      |         CAST(sum(leave1) OVER (ORDER BY t
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |           AS BIGINT) AS n1,
      |         CAST(sum(leave) OVER (ORDER BY t
      |           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
      |           AS BIGINT) AS n
      |       FROM spine),
      |terms AS (SELECT d1, leave1, leave,
      |            CASE WHEN n > 0 THEN CAST(CAST(d AS HUGEINT) * n1
      |              * 1000000000 // n AS BIGINT) ELSE 0 END AS e1q,
      |            CASE WHEN n > 1 THEN CAST(CAST(d AS HUGEINT) * n1
      |              * (n - n1) * (n - d) * 1000000000
      |              // (CAST(n AS HUGEINT) * n * (n - 1)) AS BIGINT)
      |              ELSE 0 END AS vq
      |          FROM ar),
      |t AS (SELECT CAST(sum(leave1) AS BIGINT) AS n_g1,
      |        CAST(sum(leave) - sum(leave1) AS BIGINT) AS n_g0,
      |        CAST(sum(d1) AS BIGINT) AS observed1,
      |        CAST(sum(e1q) AS BIGINT) AS expected1_nano,
      |        CAST(sum(vq) AS BIGINT) AS var_nano
      |      FROM terms)
      |SELECT n_g1, n_g0, observed1, expected1_nano, var_nano,
      |  CASE WHEN var_nano <= 0 THEN 0.0
      |       ELSE round(
      |         (CAST(observed1 AS DOUBLE) * 1e9
      |           - CAST(expected1_nano AS DOUBLE)) *
      |         (CAST(observed1 AS DOUBLE) * 1e9
      |           - CAST(expected1_nano AS DOUBLE)) /
      |         (CAST(var_nano AS DOUBLE) * 1e9), 6) END AS chi2,
      |  CASE WHEN (CASE WHEN var_nano <= 0 THEN 0.0
      |       ELSE round(
      |         (CAST(observed1 AS DOUBLE) * 1e9
      |           - CAST(expected1_nano AS DOUBLE)) *
      |         (CAST(observed1 AS DOUBLE) * 1e9
      |           - CAST(expected1_nano AS DOUBLE)) /
      |         (CAST(var_nano AS DOUBLE) * 1e9), 6) END) >= 3.841459
      |    THEN 'different' ELSE 'no_evidence' END AS verdict
      |FROM t""".stripMargin

  /** W55 — Cochran-Armitage trend test: does the fulfilled-order rate
    * move MONOTONICALLY across the ordered price bands (the dose-
    * response readout that a flat k-group chi-square cannot give)?
    * Scores 0/1/2 on the three HT price strata; the statistic
    * z² = A²·N/B with A = N·Σsr − R·Σsn and
    * B = R(N−R)(N·Σs²n − (Σsn)²) is EXACT integer algebra (decimal/
    * HUGEINT) up to the single final division, and z carries A's sign
    * (positive = rate rises with price). One fact aggregate to 3 band
    * rows; everything else is 1-row arithmetic. */
  def cochranArmitage(s: SparkSession, dir: String): DataFrame = {
    val bands = Tables.orders(s, dir)
      .select(
        when((col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint") < 16500000L, 0L)
          .when((col("o_totalprice").cast("decimal(18,2)") * 100)
            .cast("bigint") < 33000000L, 1L)
          .otherwise(2L).as("sc"),
        (col("o_orderstatus") === "F").cast("long").as("resp"))
      .groupBy(col("sc"))
      .agg(count(lit(1)).as("ni"), sum(col("resp")).as("ri"))
    bands.agg(sum(col("ni")).as("n"), sum(col("ri")).as("r"),
        sum(col("sc") * col("ni")).as("sn"),
        sum(col("sc") * col("ri")).as("sr"),
        sum(col("sc") * col("sc") * col("ni")).as("ssn"))
      .select(col("n"), col("r"), col("sn"), col("sr"), col("ssn"),
        (col("n").cast("decimal(38,0)") * col("sr") -
          col("r").cast("decimal(38,0)") * col("sn")).as("a"),
        (col("r").cast("decimal(38,0)") * (col("n") - col("r")) *
          (col("n").cast("decimal(38,0)") * col("ssn") -
            col("sn").cast("decimal(38,0)") * col("sn"))).as("b"))
      .select(col("n"), col("r"),
        when(col("b") <= 0, lit(0.0))
          .otherwise(round(
            signum(col("a").cast("double")) *
              sqrt(col("a").cast("double") * col("a").cast("double") *
                col("n").cast("double") / col("b").cast("double")), 6))
          .as("z"))
      .select(col("n"), col("r"), col("z"),
        when(abs(col("z")) >= 1.96, "trend").otherwise("no_trend")
          .as("verdict"))
  }

  val cochranArmitageSql: String =
    """WITH o AS (SELECT
      |    CASE WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |           AS BIGINT) < 16500000 THEN 0
      |         WHEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |           AS BIGINT) < 33000000 THEN 1
      |         ELSE 2 END AS sc,
      |    CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END AS resp
      |  FROM orders),
      |bands AS (SELECT sc, count(*) AS ni, CAST(sum(resp) AS BIGINT) AS ri
      |          FROM o GROUP BY sc),
      |t AS (SELECT CAST(sum(ni) AS BIGINT) AS n,
      |        CAST(sum(ri) AS BIGINT) AS r,
      |        CAST(sum(sc * ni) AS BIGINT) AS sn,
      |        CAST(sum(sc * ri) AS BIGINT) AS sr,
      |        CAST(sum(sc * sc * ni) AS BIGINT) AS ssn
      |      FROM bands),
      |ab AS (SELECT n, r,
      |         CAST(n AS HUGEINT) * sr - CAST(r AS HUGEINT) * sn AS a,
      |         CAST(r AS HUGEINT) * (n - r) *
      |           (CAST(n AS HUGEINT) * ssn - CAST(sn AS HUGEINT) * sn)
      |           AS b
      |       FROM t),
      |z AS (SELECT n, r,
      |        CASE WHEN b <= 0 THEN 0.0
      |             ELSE round(sign(CAST(a AS DOUBLE)) *
      |               sqrt(CAST(a AS DOUBLE) * CAST(a AS DOUBLE) *
      |                 CAST(n AS DOUBLE) / CAST(b AS DOUBLE)), 6)
      |        END AS z
      |      FROM ab)
      |SELECT n, r, z,
      |  CASE WHEN abs(z) >= 1.96 THEN 'trend' ELSE 'no_trend' END
      |    AS verdict
      |FROM z""".stripMargin

  /** L40 — lexical-richness profile: the vocabulary-structure health
    * check next to Zipf slope (L4p) and vocab coverage (L16) — per
    * language: type-token ratio, hapax-legomena share (singleton
    * types / types; the fresh-vocabulary signal), and Simpson's
    * repeat index Σc(c−1)/(W(W−1)) (the probability two random tokens
    * are the same type — high = templated text). One exploded
    * (lang, word) count pass; per-language aggregates are exact
    * integer/decimal sums with three rounded divisions. */
  def lexicalRichness(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("lang"), col("word")).agg(count(lit(1)).as("c"))
      .groupBy(col("lang"))
      .agg(sum(col("c")).as("words"), count(lit(1)).as("types"),
        sum((col("c") === 1).cast("long")).as("hapax"),
        sum((col("c").cast("decimal(38,0)") * (col("c") - 1))
          .cast("decimal(38,0)")).as("rep"))
      .select(col("lang"), col("words"), col("types"), col("hapax"),
        round(col("types").cast("double") / col("words").cast("double"), 6)
          .as("ttr"),
        round(col("hapax").cast("double") / col("types").cast("double"), 6)
          .as("hapax_ratio"),
        when(col("words") <= 1, lit(0.0))
          .otherwise(round(col("rep").cast("double") /
            (col("words").cast("double") *
              (col("words") - 1).cast("double")), 9)).as("simpson_ix"))
      .orderBy(col("lang"))

  val lexicalRichnessSql: String =
    """WITH w AS (SELECT lang, unnest(string_split(text, ' ')) AS word
      |           FROM documents),
      |c AS (SELECT lang, word, count(*) AS c FROM w
      |      WHERE len(word) > 0 GROUP BY 1, 2),
      |g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS words,
      |        count(*) AS types,
      |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
      |          AS hapax,
      |        sum(CAST(c AS HUGEINT) * (c - 1)) AS rep
      |      FROM c GROUP BY lang)
      |SELECT lang, words, types, hapax,
      |  round(CAST(types AS DOUBLE) / CAST(words AS DOUBLE), 6) AS ttr,
      |  round(CAST(hapax AS DOUBLE) / CAST(types AS DOUBLE), 6)
      |    AS hapax_ratio,
      |  CASE WHEN words <= 1 THEN 0.0
      |       ELSE round(CAST(rep AS DOUBLE) /
      |         (CAST(words AS DOUBLE) * CAST(words - 1 AS DOUBLE)), 9)
      |  END AS simpson_ix
      |FROM g ORDER BY lang""".stripMargin

  /** G33 — Hodges-Lehmann robust location estimate: the median of all
    * Walsh averages (yᵢ+yⱼ)/2, i ≤ j — the location estimator behind
    * the Wilcoxon signed-rank test, robust like the median but ~1.5×
    * more efficient at the normal. Per flag over the bounded monthly
    * revenue series: pair SUMS stay exact bigints (the ÷2 moves to the
    * end), the interpolated median of integers lands on exact .5
    * steps in double, and the emitted dollars are two exactly-rounded
    * divisions. The plain median rides along — HL ≠ median is the
    * skewness signal the estimator exists to resist. */
  def hodgesLehmann(s: SparkSession, dir: String): DataFrame = {
    val m = monthlySeries(s, dir) // local relation: no persist needed
    val a = m.select(col("l_returnflag"), col("mon").as("ma"), col("x").as("xa"))
    val b = m.select(col("l_returnflag"), col("mon").as("mb"), col("x").as("xb"))
    val walsh = a.join(b, Seq("l_returnflag")).filter(col("ma") <= col("mb"))
      .select(col("l_returnflag"), (col("xa") + col("xb")).as("s2"))
    val hl = walsh.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n_pairs"),
        expr("percentile(s2, 0.5D)").as("p2"))
    val med = m.groupBy(col("l_returnflag"))
      .agg(expr("percentile(x, 0.5D)").as("pm"))
    hl.join(med, Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n_pairs"),
        round(col("p2") / 200.0, 6).as("hl_dollars"),
        round(col("pm") / 100.0, 6).as("median_dollars"))
      .orderBy(col("l_returnflag"))
  }

  val hodgesLehmannSql: String =
    s"""WITH $monthlySeriesCte,
      |walsh AS (SELECT a.l_returnflag, a.x + b.x AS s2
      |          FROM m a JOIN m b
      |            ON a.l_returnflag = b.l_returnflag AND a.mon <= b.mon),
      |hl AS (SELECT l_returnflag, count(*) AS n_pairs,
      |         quantile_cont(s2, 0.5) AS p2
      |       FROM walsh GROUP BY 1),
      |md AS (SELECT l_returnflag, quantile_cont(x, 0.5) AS pm
      |       FROM m GROUP BY 1)
      |SELECT hl.l_returnflag, hl.n_pairs,
      |  round(hl.p2 / 200.0, 6) AS hl_dollars,
      |  round(md.pm / 100.0, 6) AS median_dollars
      |FROM hl JOIN md USING (l_returnflag)
      |ORDER BY hl.l_returnflag""".stripMargin

  /** L42 — corpus BLEU-2 (the canonical generation-eval metric,
    * completing the eval family next to the retrieval trio
    * NDCG/MRR/P@k): candidate = each document, reference = the NEXT
    * document in id order — the deterministic fluency-floor pairing
    * the truncation-fidelity audit uses (a real eval swaps in model
    * outputs; the query shape — n-gram count tables, a pair join,
    * corpus-level clipped sums — is unchanged). Modified n-gram
    * precision is computed CORPUS-level per candidate language:
    * clipped matches Σ_g min(count_cand, count_ref) and candidate
    * totals are exact integer sums over the pair-keyed n-gram join
    * (never all-pairs — each candidate joins exactly one reference);
    * brevity penalty and the final geometric mean are one fixed IEEE
    * chain over those exact totals. Zero clipped bigrams (or empty
    * candidates) pin the score to exactly 0.0 via the same CASE on
    * both engines — no ln(0) propagation. */
  def bleu(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.widen(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"),
        filter(split(col("text"), " "), x => x =!= "").as("t"))
      .persistScoped() // unigram, bigram, and length passes
    val uc = d.select(col("doc_id"), explode(col("t")).as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .persistScoped() // cand and ref sides of the pair join
    val bcRel = d.filter(size(col("t")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(t) - 2), " +
          "i -> concat(element_at(t, i + 1), ' ', element_at(t, i + 2)))"))
        .as("g"))
      .groupBy(col("doc_id"), col("g")).agg(count(lit(1)).as("c"))
      .persistScoped()
    def clipped(nc: DataFrame, alias: String): DataFrame =
      nc.select(col("doc_id").as("cand"), col("g"), col("c").as("cc"))
        .join(nc.select((col("doc_id") - 1).as("cand"), col("g"),
          col("c").as("rc")), Seq("cand", "g"))
        .groupBy(col("cand"))
        .agg(sum(least(col("cc"), col("rc"))).as(alias))
    val lens = d.select(col("doc_id"), col("lang"),
      size(col("t")).cast("long").as("len"))
    val pairs = lens.select(col("doc_id").as("cand"), col("lang"),
        col("len").as("clen"))
      .join(lens.select((col("doc_id") - 1).as("cand"),
        col("len").as("rlen")), Seq("cand"))
      .join(clipped(uc, "clip1"), Seq("cand"), "left")
      .join(clipped(bcRel, "clip2"), Seq("cand"), "left")
    val agg = pairs.groupBy(col("lang")).agg(
      count(lit(1)).as("n_pairs"),
      sum(coalesce(col("clip1"), lit(0L))).as("c1"),
      sum(col("clen")).as("t1"),
      sum(coalesce(col("clip2"), lit(0L))).as("c2"),
      sum(greatest(col("clen") - 1, lit(0L))).as("t2"),
      sum(col("clen")).as("cand_len"), sum(col("rlen")).as("ref_len"))
    val p1 = col("c1").cast("double") / col("t1").cast("double")
    val p2 = col("c2").cast("double") / col("t2").cast("double")
    val bp = when(col("cand_len") > col("ref_len"), lit(1.0))
      .otherwise(exp(lit(1.0) -
        col("ref_len").cast("double") / col("cand_len").cast("double")))
    agg.select(col("lang"), col("n_pairs"),
        when(col("t1") === 0, 0.0).otherwise(p1).as("p1"),
        when(col("t2") === 0, 0.0).otherwise(p2).as("p2"),
        // bp and bleu2 pass through exp/ln, whose results are not
        // IEEE-pinned across libm implementations — round(·, 4) on
        // both engines so the oracle hash never rides on libm ulps
        // (p1/p2 stay raw: pure divisions are exact). Residual risk,
        // accepted explicitly: a value within 1 ulp of a 0.00005
        // rounding boundary can still quantize differently across
        // libms. No quantizer removes this (floor(x·1e4) has the same
        // boundary density, just shifted); eliminating it would need
        // exp/ln replaced by a fixed-point series on both engines,
        // which is not worth it for a 4-decimal eval metric.
        round(when(col("cand_len") === 0, 0.0).otherwise(bp), 4).as("bp"),
        round(when(col("c1") === 0 || col("c2") === 0 || col("cand_len") === 0,
          0.0).otherwise(
          bp * exp((log(p1) + log(p2)) * 0.5)), 4).as("bleu2"))
      .orderBy(col("lang"))
  }

  val bleuSql: String =
    """WITH d AS (SELECT doc_id, lang,
      |    list_filter(string_split(text, ' '), x -> x <> '') AS t
      |  FROM documents),
      |uc AS (SELECT doc_id, g, count(*) AS c
      |       FROM (SELECT doc_id, unnest(t) AS g FROM d) GROUP BY 1, 2),
      |bc AS (SELECT doc_id, g, count(*) AS c
      |       FROM (SELECT doc_id,
      |               unnest([t[i] || ' ' || t[i+1]
      |                       for i in generate_series(1, len(t)-1)]) AS g
      |             FROM d WHERE len(t) >= 2) GROUP BY 1, 2),
      |cl1 AS (SELECT cu.doc_id AS cand,
      |          CAST(sum(least(cu.c, ru.c)) AS BIGINT) AS clip1
      |        FROM uc cu JOIN uc ru
      |          ON ru.doc_id = cu.doc_id + 1 AND ru.g = cu.g
      |        GROUP BY 1),
      |cl2 AS (SELECT cb.doc_id AS cand,
      |          CAST(sum(least(cb.c, rb.c)) AS BIGINT) AS clip2
      |        FROM bc cb JOIN bc rb
      |          ON rb.doc_id = cb.doc_id + 1 AND rb.g = cb.g
      |        GROUP BY 1),
      |lens AS (SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS len FROM d),
      |pairs AS (SELECT a.doc_id AS cand, a.lang, a.len AS clen,
      |            r.len AS rlen, coalesce(cl1.clip1, 0) AS clip1,
      |            coalesce(cl2.clip2, 0) AS clip2
      |          FROM lens a JOIN lens r ON r.doc_id = a.doc_id + 1
      |          LEFT JOIN cl1 ON cl1.cand = a.doc_id
      |          LEFT JOIN cl2 ON cl2.cand = a.doc_id),
      |agg AS (SELECT lang, count(*) AS n_pairs,
      |          CAST(sum(clip1) AS BIGINT) AS c1,
      |          CAST(sum(clen) AS BIGINT) AS t1,
      |          CAST(sum(clip2) AS BIGINT) AS c2,
      |          CAST(sum(greatest(clen - 1, 0)) AS BIGINT) AS t2,
      |          CAST(sum(clen) AS BIGINT) AS cand_len,
      |          CAST(sum(rlen) AS BIGINT) AS ref_len
      |        FROM pairs GROUP BY 1)
      |SELECT lang, n_pairs,
      |  CASE WHEN t1 = 0 THEN 0.0
      |       ELSE CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE) END AS p1,
      |  CASE WHEN t2 = 0 THEN 0.0
      |       ELSE CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE) END AS p2,
      |  round(CASE WHEN cand_len = 0 THEN 0.0
      |       WHEN cand_len > ref_len THEN 1.0
      |       ELSE exp(1.0 - CAST(ref_len AS DOUBLE) / CAST(cand_len AS DOUBLE))
      |  END, 4) AS bp,
      |  round(CASE WHEN c1 = 0 OR c2 = 0 OR cand_len = 0 THEN 0.0
      |       ELSE (CASE WHEN cand_len > ref_len THEN 1.0
      |             ELSE exp(1.0 - CAST(ref_len AS DOUBLE)
      |                      / CAST(cand_len AS DOUBLE)) END)
      |            * exp((ln(CAST(c1 AS DOUBLE) / CAST(t1 AS DOUBLE))
      |                   + ln(CAST(c2 AS DOUBLE) / CAST(t2 AS DOUBLE))) * 0.5)
      |  END, 4) AS bleu2
      |FROM agg ORDER BY lang""".stripMargin

  /** TS20 — Durbin-Watson statistic: first-order serial correlation of
    * the RESIDUALS from the per-flag monthly OLS trend — the
    * regression-diagnostic companion to TS16's raw-series ACF (a
    * trending series always autocorrelates; DW asks whether anything
    * is left AFTER the trend, the assumption q_regr_slope's standard
    * errors ride on). DW = Σ(e_t − e_{t−1})²/Σe_t², ≈2 when clean,
    * →0 under positive serial correlation. Exactness: residuals are
    * pre-scaled by the normal-equation denominator den = n·Σt²−(Σt)²,
    * so ẽ_t = den·x_t − (SyStt − StSty) − (nSty − StSy)·t is an EXACT
    * decimal integer (den² cancels in the ratio); both quadratic sums
    * ride decimal(38,0) over the bounded month relation and the one
    * IEEE division lands at the end. Exact while den·x² < 10³⁸ —
    * monthly group revenue through ~sf50; past that ANSI fails loudly
    * rather than drifting. Degenerate series (n < 3 or a perfect fit)
    * read the no-autocorrelation value 2.0 on both engines. */
  def durbinWatson(s: SparkSession, dir: String): DataFrame = {
    val d38 = "decimal(38,0)"
    val m = monthlySeries(s, dir)
      .withColumn("t", row_number().over(
        Window.partitionBy(col("l_returnflag")).orderBy(col("mon")))
        .cast("long")) // local relation under a tiny window: no persist
    val st = m.groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("t")).as("stt1"),
        sum(col("x")).as("sy"),
        sum((col("t") * col("t")).cast(d38)).as("stt2"),
        sum((col("t").cast(d38) * col("x")).cast(d38)).as("sty"))
      .select(col("l_returnflag"), col("n"),
        (col("n") * col("stt2") - col("stt1").cast(d38) * col("stt1"))
          .as("den"),
        (col("sy").cast(d38) * col("stt2") -
          col("stt1").cast(d38) * col("sty")).as("numa"),
        (col("n") * col("sty") - col("stt1").cast(d38) * col("sy"))
          .as("numb"))
    val e = m.join(broadcast(st), Seq("l_returnflag"))
      .select(col("l_returnflag"), col("n"), col("t"),
        (col("den") * col("x") - col("numa") - col("numb") * col("t"))
          .as("e"))
    val w = Window.partitionBy(col("l_returnflag")).orderBy(col("t"))
    e.withColumn("ep", lag(col("e"), 1).over(w))
      .groupBy(col("l_returnflag"), col("n"))
      .agg(sum((col("e") * col("e")).cast(d38)).as("sse"),
        sum(when(col("ep").isNotNull,
          ((col("e") - col("ep")) * (col("e") - col("ep"))).cast(d38))
          .otherwise(lit(0).cast(d38))).as("ssd"))
      .select(col("l_returnflag"), col("n").as("n_months"),
        when(col("n") < 3 || col("sse") <= 0, lit(2.0))
          .otherwise(round(col("ssd").cast("double") /
            col("sse").cast("double"), 6)).as("dw"))
      .orderBy(col("l_returnflag"))
  }

  val durbinWatsonSql: String =
    s"""WITH $monthlySeriesCte,
      |r AS (SELECT l_returnflag, x,
      |        CAST(row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY mon) AS BIGINT) AS t
      |      FROM m),
      |st AS (SELECT l_returnflag, count(*) AS n,
      |         CAST(sum(t) AS HUGEINT) AS stt1,
      |         CAST(sum(x) AS HUGEINT) AS sy,
      |         CAST(sum(t * t) AS HUGEINT) AS stt2,
      |         CAST(sum(CAST(t AS HUGEINT) * x) AS HUGEINT) AS sty
      |       FROM r GROUP BY 1),
      |co AS (SELECT l_returnflag, n,
      |         n * stt2 - stt1 * stt1 AS den,
      |         sy * stt2 - stt1 * sty AS numa,
      |         n * sty - stt1 * sy AS numb
      |       FROM st),
      |e AS (SELECT r.l_returnflag, co.n, r.t,
      |        co.den * r.x - co.numa - co.numb * r.t AS e
      |      FROM r JOIN co USING (l_returnflag)),
      |l AS (SELECT l_returnflag, n, e,
      |        lag(e) OVER (PARTITION BY l_returnflag ORDER BY t) AS ep
      |      FROM e),
      |g AS (SELECT l_returnflag, n, sum(e * e) AS sse,
      |        sum(CASE WHEN ep IS NOT NULL THEN (e - ep) * (e - ep)
      |                 ELSE 0 END) AS ssd
      |      FROM l GROUP BY 1, 2)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_months,
      |  CASE WHEN n < 3 OR sse <= 0 THEN 2.0
      |       ELSE round(CAST(ssd AS DOUBLE) / CAST(sse AS DOUBLE), 6)
      |  END AS dw
      |FROM g ORDER BY l_returnflag""".stripMargin

  /** TS21 — Ljung-Box portmanteau test: is the monthly series white
    * noise ACROSS the first six lags jointly? — the one-number
    * companion to TS16's per-lag readout (six r_k values invite
    * cherry-picking; Q = n(n+2)Σr_k²/(n−k) aggregates them with the
    * small-sample weighting that makes the χ²₆ reference honest).
    * Built ON the rounded ACF values (round-absorbed, so both engines
    * square identical 6-decimal numbers); each lag's term quantizes
    * to 1e-12 fixed point and integer-sums (order-free), with the
    * n(n+2) factor and the 1e-12 unscale applied once at the end.
    * Series shorter than 7 months lack a full 6-lag panel and read
    * 'insufficient' instead of a χ²₆ verdict. */
  def ljungBox(s: SparkSession, dir: String): DataFrame = {
    // Local over [[acfLocal]] — same fixed-point quantization (1e-12
    // floor per lag term, exact integer sum) and the same final IEEE
    // chain/round the former 38-Exchange plan computed.
    val out = acfLocal(s, dir).groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (flag, lags) =>
        val n = lags.head._3
        val tqs = lags.map { case (_, k, _, r) =>
          math.floor(r * r / (n - k) * 1e12).toLong
        }.sum
        val nLags = lags.size.toLong
        val q = Conv.round6(n.toDouble * (n + 2) * tqs.toDouble / 1e12)
        val verdict =
          if (nLags < 6) "insufficient"
          else if (q >= 12.591587) "autocorrelated"
          else "white_noise"
        (flag, n, nLags, q, verdict)
      }
    import s.implicits._
    out.toDF("l_returnflag", "n_months", "n_lags", "q_stat", "verdict")
      .orderBy(col("l_returnflag"))
  }

  val ljungBoxSql: String =
    s"""WITH $monthlySeriesCte,
      |st AS MATERIALIZED (SELECT l_returnflag, count(*) AS n,
      |         CAST(sum(x) AS BIGINT) AS sx FROM m GROUP BY 1),
      |c AS MATERIALIZED (SELECT m.l_returnflag, st.n,
      |        row_number() OVER (PARTITION BY m.l_returnflag
      |          ORDER BY m.mon) AS rn,
      |        CAST(st.n * m.x - st.sx AS BIGINT) AS c
      |      FROM m JOIN st USING (l_returnflag)),
      |den AS (SELECT l_returnflag,
      |          sum(CAST(c AS HUGEINT) * c) AS den FROM c GROUP BY 1),
      |num AS (SELECT a.l_returnflag, l.lag_k,
      |          sum(CAST(a.c AS HUGEINT) * b.c) AS num
      |        FROM c a
      |        CROSS JOIN (SELECT CAST(unnest(range(1, 7)) AS INT) AS lag_k) l
      |        JOIN c b ON b.l_returnflag = a.l_returnflag
      |          AND b.rn = a.rn + l.lag_k
      |        GROUP BY 1, 2),
      |r AS (SELECT n.l_returnflag, n.lag_k, st.n,
      |        CASE WHEN d.den = 0 THEN 0.0
      |             ELSE round(CAST(n.num AS DOUBLE) / CAST(d.den AS DOUBLE), 6)
      |        END AS r
      |      FROM num n JOIN den d USING (l_returnflag)
      |      JOIN st USING (l_returnflag)),
      |t AS (SELECT l_returnflag, n,
      |        CAST(floor(r * r / (n - lag_k) * 1e12) AS BIGINT) AS tq
      |      FROM r),
      |g AS (SELECT l_returnflag, n, count(*) AS n_lags,
      |        CAST(sum(tq) AS BIGINT) AS tqs
      |      FROM t GROUP BY 1, 2)
      |SELECT l_returnflag, CAST(n AS BIGINT) AS n_months,
      |  n_lags,
      |  round(CAST(n AS DOUBLE) * (n + 2) * CAST(tqs AS DOUBLE) / 1e12, 6)
      |    AS q_stat,
      |  CASE WHEN n_lags < 6 THEN 'insufficient'
      |       WHEN round(CAST(n AS DOUBLE) * (n + 2) * CAST(tqs AS DOUBLE)
      |         / 1e12, 6) >= 12.591587 THEN 'autocorrelated'
      |       ELSE 'white_noise' END AS verdict
      |FROM g ORDER BY l_returnflag""".stripMargin

  // ---------------------------------------------------------------
  // ANOVA's post-hoc / assumption companions (round-15 pack): Tukey
  // HSD pairwise comparisons, Bartlett homogeneity of variances, and
  // the Grubbs single-outlier test — all over the SAME fixture as
  // W50 (customer balance cents by market segment), sharing anovaF's
  // exact-integer sum decomposition so every floating step is an
  // identically-shaped IEEE chain on exact inputs in both engines.
  // ---------------------------------------------------------------

  /** Per-segment exact sums over balance cents: (g, nj, sj bigint,
    * sxx decimal(38,0), qj = ⌊sj²/nj⌋) — [[anovaF]]'s decomposition
    * factored out so the post-hoc family shares one fact collapse. */
  private def balanceGroups(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
        col("c_mktsegment").as("g"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("nj"), sum(col("v")).as("sj"),
        sum((col("v").cast("decimal(38,0)") * col("v"))
          .cast("decimal(38,0)")).as("sxx"))
      .withColumn("qj", expr("CAST(sj AS DECIMAL(38,0)) * sj div nj"))

  /** W70 — Tukey HSD post-hoc: which SEGMENT PAIRS differ, once
    * W50's omnibus F fires? q = |mean_i − mean_j| / √(MSW/2·(1/n_i +
    * 1/n_j)) (Tukey 1949, unequal-n Tukey-Kramer form). One fact
    * aggregate to k=5 group rows, a bounded k×k self-join for the
    * C(k,2)=10 pairs, MSW from the exact SSW bigint — the only
    * doubles are the terminal per-pair scalar chain. */
  def tukeyHsd(s: SparkSession, dir: String): DataFrame = {
    val per = balanceGroups(s, dir).persistScoped() // totals + both pair sides
    val msw = per.agg(sum(col("nj")).as("n"), count(lit(1)).as("k"),
        sum(col("sxx")).as("sumxx"), sum(col("qj")).as("sumq"))
      .select(col("n"), col("k"),
        (col("sumxx") - col("sumq")).cast("bigint").as("ssw"))
    // the segment domain is a constant 5 at every TPC-H scale factor,
    // but the boundedness must be STRUCTURAL for the nested-loop pair
    // join: a deterministic first-25-alphabetical cap (never binding)
    // turns the domain assumption into a plan-level GlobalLimit bound
    // — the same idiom as q_js_divergence's top-64 source cap
    val capped = per.orderBy(col("g")).limit(25)
    val a = capped.select(col("g").as("g1"), col("nj").as("n1"),
      col("sj").as("s1"))
    val b = capped.select(col("g").as("g2"), col("nj").as("n2"),
      col("sj").as("s2"))
    val diff = col("s1").cast("double") / col("n1").cast("double") -
      col("s2").cast("double") / col("n2").cast("double")
    val mswD = col("ssw").cast("double") / (col("n") - col("k")).cast("double")
    val se = sqrt(mswD / lit(2.0) *
      (lit(1.0) / col("n1").cast("double") + lit(1.0) / col("n2").cast("double")))
    a.join(broadcast(b), col("g1") < col("g2")) // ≤ k² rows, k = |segments|
      .crossJoin(broadcast(msw)) // 1 row
      .select(col("g1"), col("g2"), col("n1"), col("n2"),
        round(diff, 6).as("mean_diff"),
        when(col("ssw") <= 0 || col("n") <= col("k"), lit(0.0))
          .otherwise(round(abs(diff) / se, 6)).as("q_stat"))
      .orderBy(col("g1"), col("g2"))
  }

  val tukeyHsdSql: String =
    """WITH xs AS (SELECT c_mktsegment AS g,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM customer),
      |per AS MATERIALIZED (SELECT g, count(*) AS nj,
      |         CAST(sum(v) AS BIGINT) AS sj,
      |         sum(CAST(v AS HUGEINT) * v) AS sxx
      |       FROM xs GROUP BY g),
      |q AS MATERIALIZED (SELECT g, nj, sj,
      |       CAST(sj AS HUGEINT) * sj // nj AS qj, sxx FROM per),
      |t AS (SELECT CAST(sum(nj) AS BIGINT) AS n, count(*) AS k,
      |        CAST(sum(sxx) - sum(qj) AS BIGINT) AS ssw FROM q),
      |cap AS (SELECT * FROM q ORDER BY g LIMIT 25)
      |SELECT a.g AS g1, b.g AS g2, a.nj AS n1, b.nj AS n2,
      |  round(CAST(a.sj AS DOUBLE) / a.nj - CAST(b.sj AS DOUBLE) / b.nj, 6)
      |    AS mean_diff,
      |  CASE WHEN t.ssw <= 0 OR t.n <= t.k THEN 0.0
      |       ELSE round(abs(CAST(a.sj AS DOUBLE) / a.nj
      |           - CAST(b.sj AS DOUBLE) / b.nj)
      |         / sqrt(CAST(t.ssw AS DOUBLE) / (t.n - t.k) / 2
      |             * (1.0 / a.nj + 1.0 / b.nj)), 6)
      |  END AS q_stat
      |FROM cap a JOIN cap b ON a.g < b.g CROSS JOIN t
      |ORDER BY g1, g2""".stripMargin

  /** W71 — Bartlett's test of equal variances: the OTHER gatekeeper
    * beside W51's Brown-Forsythe — χ² = [(N−k)·ln S_p² −
    * Σ(n_j−1)·ln S_j²] / C with C = 1 + (Σ1/(n_j−1) − 1/(N−k)) /
    * (3(k−1)) (Bartlett 1937). Per-group variances come from the
    * exact (sxx − qj) bigints; each group's log term and reciprocal
    * is fixed-point-quantized (1e-9 / 1e-15) BEFORE the k-row sum so
    * the reduction is exact-integer and order-free in both engines. */
  def bartlett(s: SparkSession, dir: String): DataFrame = {
    // zero-variance groups are excluded by convention (their ln S_j²
    // is −∞); the exact (sxx − qj) bigint decides membership
    // identically in both engines
    val per = balanceGroups(s, dir).filter(col("nj") >= 2 &&
      (col("sxx") - col("qj")).cast("bigint") > 0)
    val s2j = (col("sxx") - col("qj")).cast("bigint").cast("double") /
      (col("nj") - 1).cast("double")
    val terms = per.select(col("nj"), col("sxx"), col("qj"),
      floor((col("nj") - 1).cast("double") * log(s2j) * lit(1e9))
        .cast("bigint").as("lt"),
      floor(lit(1e15) / (col("nj") - 1).cast("double"))
        .cast("bigint").as("rcp"))
    terms.agg(count(lit(1)).as("k"), sum(col("nj")).as("n"),
        (sum(col("sxx")) - sum(col("qj"))).cast("bigint").as("ssw"),
        sum(col("lt")).as("slt"), sum(col("rcp")).as("srcp"))
      .select(col("k"), col("n"), col("ssw"),
        when(col("k") <= 1 || col("n") <= col("k") || col("ssw") <= 0,
          lit(0.0))
          .otherwise(round(
            ((col("n") - col("k")).cast("double") *
              log(col("ssw").cast("double") /
                (col("n") - col("k")).cast("double")) -
              col("slt").cast("double") / 1e9) /
            (lit(1.0) + (col("srcp").cast("double") / 1e15 -
              lit(1.0) / (col("n") - col("k")).cast("double")) /
              (lit(3.0) * (col("k") - 1).cast("double"))), 6))
          .as("bartlett_chi2"),
        (col("k") - 1).cast("long").as("df"))
  }

  val bartlettSql: String =
    """WITH xs AS (SELECT c_mktsegment AS g,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM customer),
      |per AS (SELECT g, count(*) AS nj, CAST(sum(v) AS BIGINT) AS sj,
      |          sum(CAST(v AS HUGEINT) * v) AS sxx
      |        FROM xs GROUP BY g HAVING count(*) >= 2),
      |q AS (SELECT * FROM (SELECT nj, sxx,
      |          CAST(sj AS HUGEINT) * sj // nj AS qj FROM per)
      |      WHERE CAST(sxx - qj AS BIGINT) > 0),
      |w AS (SELECT nj, sxx, qj,
      |        CAST(floor((nj - 1) * ln(CAST(CAST(sxx - qj AS BIGINT)
      |            AS DOUBLE) / (nj - 1)) * 1e9) AS BIGINT) AS lt,
      |        CAST(floor(1e15 / (nj - 1)) AS BIGINT) AS rcp
      |      FROM q),
      |t AS (SELECT count(*) AS k, CAST(sum(nj) AS BIGINT) AS n,
      |        CAST(sum(sxx) - sum(qj) AS BIGINT) AS ssw,
      |        CAST(sum(lt) AS BIGINT) AS slt,
      |        CAST(sum(rcp) AS BIGINT) AS srcp FROM w)
      |SELECT k, n, ssw,
      |  CASE WHEN k <= 1 OR n <= k OR ssw <= 0 THEN 0.0
      |       ELSE round(
      |         ((n - k) * ln(CAST(ssw AS DOUBLE) / (n - k))
      |           - CAST(slt AS DOUBLE) / 1e9)
      |         / (1.0 + (CAST(srcp AS DOUBLE) / 1e15 - 1.0 / (n - k))
      |             / (3.0 * (k - 1))), 6)
      |  END AS bartlett_chi2,
      |  CAST(k - 1 AS BIGINT) AS df
      |FROM t""".stripMargin

  /** W72 — Grubbs' single-outlier test per segment: G = max|v − v̄|/s
    * (Grubbs 1969). The max deviation is found EXACTLY as the integer
    * max of |v·n_j − s_j| (no double compare decides the argmax), the
    * suspect value is the tie-broken (min) balance attaining it, and
    * only the final G division is floating. Three keyed aggregates
    * over the persisted cents projection; the ≤k-row group sums ride
    * broadcast joins. */
  def grubbs(s: SparkSession, dir: String): DataFrame = {
    // ONE aggregate instead of the former three passes + three
    // broadcasts: devn(v) = |v·nj − sj| = nj·|v − mean| is maximized
    // at the group's min or max value, so maxdevn =
    // greatest(vmax·nj − sj, sj − vmin·nj) — exact integers, no
    // per-row deviation pass. The suspect (min v achieving maxdevn)
    // is vmin whenever the low side ties or wins (rows at BOTH
    // extremes achieve the max only on an exact tie, where min picks
    // vmin), else vmax. The g_stat expression chain is unchanged —
    // the same post-aggregation IEEE ops in the same order.
    val per = Tables.customer(s, dir).select(
        col("c_mktsegment").as("g"),
        (col("c_acctbal").cast("decimal(18,2)") * 100).cast("bigint").as("v"))
      .groupBy(col("g"))
      .agg(count(lit(1)).as("nj"), sum(col("v")).as("sj"),
        sum((col("v").cast("decimal(38,0)") * col("v"))
          .cast("decimal(38,0)")).as("sxx"),
        min(col("v")).as("vmin"), max(col("v")).as("vmax"))
      .withColumn("qj", expr("CAST(sj AS DECIMAL(38,0)) * sj div nj"))
      .withColumn("maxdevn", greatest(col("vmax") * col("nj") - col("sj"),
        col("sj") - col("vmin") * col("nj")))
      .withColumn("suspect_cents",
        when(col("sj") - col("vmin") * col("nj") >=
          col("vmax") * col("nj") - col("sj"), col("vmin"))
          .otherwise(col("vmax")))
    val s2 = (col("sxx") - col("qj")).cast("bigint").cast("double") /
      (col("nj") - 1).cast("double")
    per
      .select(col("g"), col("nj").as("n"),
        when(col("nj") <= 2 ||
            (col("sxx") - col("qj")).cast("bigint") <= 0, lit(0.0))
          .otherwise(round(
            col("maxdevn").cast("double") / col("nj").cast("double") /
              sqrt(s2), 6)).as("g_stat"),
        col("suspect_cents"))
      .orderBy(col("g"))
  }

  val grubbsSql: String =
    """WITH xs AS MATERIALIZED (SELECT c_mktsegment AS g,
      |    CAST(CAST(c_acctbal AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
      |  FROM customer),
      |per AS MATERIALIZED (SELECT g, count(*) AS nj,
      |         CAST(sum(v) AS BIGINT) AS sj,
      |         sum(CAST(v AS HUGEINT) * v) AS sxx
      |       FROM xs GROUP BY g),
      |q AS MATERIALIZED (SELECT g, nj, sj, sxx,
      |       CAST(sj AS HUGEINT) * sj // nj AS qj FROM per),
      |dev AS MATERIALIZED (SELECT xs.g, xs.v, q.nj, q.qj, q.sxx,
      |         abs(xs.v * q.nj - q.sj) AS devn
      |       FROM xs JOIN q USING (g)),
      |mx AS (SELECT g, nj, qj, sxx, max(devn) AS maxdevn
      |       FROM dev GROUP BY g, nj, qj, sxx),
      |sus AS (SELECT dev.g, min(dev.v) AS suspect_cents
      |        FROM dev JOIN mx ON dev.g = mx.g AND dev.devn = mx.maxdevn
      |        GROUP BY dev.g)
      |SELECT mx.g, mx.nj AS n,
      |  CASE WHEN mx.nj <= 2 OR CAST(mx.sxx - mx.qj AS BIGINT) <= 0 THEN 0.0
      |       ELSE round(CAST(mx.maxdevn AS DOUBLE) / mx.nj
      |         / sqrt(CAST(CAST(mx.sxx - mx.qj AS BIGINT) AS DOUBLE)
      |             / (mx.nj - 1)), 6)
      |  END AS g_stat,
      |  sus.suspect_cents
      |FROM mx JOIN sus USING (g)
      |ORDER BY g""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_durbin_watson" -> (durbinWatson _),
    "q_ljung_box" -> (ljungBox _),
    "q_bleu" -> (bleu _),
    "q_kendall_tau" -> (kendallTau _),
    "q_hodges_lehmann" -> (hodgesLehmann _),
    "q_ordinal_assoc" -> (ordinalAssoc _),
    "q_logrank" -> (logrank _),
    "q_cochran_armitage" -> (cochranArmitage _),
    "q_lexical_richness" -> (lexicalRichness _),
    "q_acf" -> (acf _),
    "q_pacf" -> (pacf _),
    "q_anova" -> (anova _),
    "q_brown_forsythe" -> (brownForsythe _),
    "q_tukey_hsd" -> (tukeyHsd _),
    "q_bartlett" -> (bartlett _),
    "q_grubbs" -> (grubbs _),
    "q_mrr" -> (mrr _),
    "q_precision_at_k" -> (precisionAtK _),
    "q_copeland" -> (copeland _),
    "q_adamic_adar" -> (adamicAdar _),
    "q_readability" -> (readability _),
    "q_horvitz_thompson" -> (horvitzThompson _),
    "q_jackknife_ratio" -> (jackknifeRatio _),
    "q_capture_recapture" -> (captureRecapture _),
  )

  val oracle: Map[String, String] = Map(
    "q_durbin_watson" -> durbinWatsonSql,
    "q_ljung_box" -> ljungBoxSql,
    "q_bleu" -> bleuSql,
    "q_kendall_tau" -> kendallTauSql,
    "q_hodges_lehmann" -> hodgesLehmannSql,
    "q_ordinal_assoc" -> ordinalAssocSql,
    "q_logrank" -> logrankSql,
    "q_cochran_armitage" -> cochranArmitageSql,
    "q_lexical_richness" -> lexicalRichnessSql,
    "q_acf" -> acfSql,
    "q_pacf" -> pacfSql,
    "q_anova" -> anovaSql,
    "q_brown_forsythe" -> brownForsytheSql,
    "q_tukey_hsd" -> tukeyHsdSql,
    "q_bartlett" -> bartlettSql,
    "q_grubbs" -> grubbsSql,
    "q_mrr" -> mrrSql,
    "q_precision_at_k" -> precisionAtKSql,
    "q_copeland" -> copelandSql,
    "q_adamic_adar" -> adamicAdarSql,
    "q_readability" -> readabilitySql,
    "q_horvitz_thompson" -> horvitzThompsonSql,
    "q_jackknife_ratio" -> jackknifeRatioSql,
    "q_capture_recapture" -> captureRecaptureSql,
  )
}
