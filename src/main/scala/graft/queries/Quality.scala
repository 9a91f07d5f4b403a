package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Round-6 quality/retrieval operators: winsorized scaling, sparse
  * lexical cosine retrieval, k-anonymity auditing, per-key merged
  * interval coverage, and seasonal indexing. All oracle-checked;
  * conventions per ARCHITECTURE.md "Cross-engine determinism".
  */
object Quality {

  /** C8 — winsorized (clipped) robust scaling: clip each lineitem
    * price to its return-flag group's [p05, p95] discrete percentiles
    * — the outlier treatment that, unlike dropping, keeps row counts
    * stable. Bounds are order statistics, so they come from the shared
    * [[graft.operators.Ranked.cutValuesByRank]] bounded cut machinery
    * (explicit row-position semantics — the value whose cumulative tie-
    * counted rank first reaches ceil(n·q) IS the row at rank ceil(n·q)
    * of the sorted multiset); the clip itself is a broadcast join +
    * greatest/least projection. Output is the per-group audit: how many
    * rows clipped at each tail and the exact-cent clipped sum. */
  def winsorize(s: SparkSession, dir: String): DataFrame = {
    // Both passes run over the staged cumulative price census
    // ([[PriceStage.census]]) instead of the fact table. The former
    // bound machinery (range exchange + partition-count collect +
    // rank-row filter) is one min/when aggregate: the value at rank
    // ceil(n·q) of the sorted multiset IS the smallest price whose
    // cumulative count cwc reaches that rank. The clip pass replays
    // the exact former per-row arithmetic on census rows, weighting
    // each by its row count c (exact integers: Σ over rows ≡ Σ c ·
    // per-price term; the greatest/least/decimal-cast chain is
    // unchanged).
    val cen = PriceStage.census(s, dir)
    val bounds = cen.groupBy(col("l_returnflag"))
      .agg(
        min(when(col("cwc") >= ceil(col("nt") * 0.05).cast("bigint"),
          col("l_extendedprice"))).as("lo"),
        min(when(col("cwc") >= ceil(col("nt") * 0.95).cast("bigint"),
          col("l_extendedprice"))).as("hi"))
    cen
      .join(broadcast(bounds), Seq("l_returnflag"))
      .select(col("l_returnflag"),
        when(col("l_extendedprice") < col("lo"), col("c")).otherwise(lit(0L))
          .as("clip_lo"),
        when(col("l_extendedprice") > col("hi"), col("c")).otherwise(lit(0L))
          .as("clip_hi"),
        (col("c") *
          (greatest(col("lo"), least(col("hi"), col("l_extendedprice")))
            .cast("decimal(18,2)") * 100).cast("bigint")).as("cents"))
      .groupBy(col("l_returnflag"))
      .agg(sum(col("clip_lo")).as("n_clip_lo"), sum(col("clip_hi")).as("n_clip_hi"),
        sum(col("cents")).as("cents_winsorized"))
      .orderBy(col("l_returnflag"))
  }

  val winsorizeSql: String =
    """WITH r AS (SELECT l_returnflag, l_extendedprice,
      |             row_number() OVER (PARTITION BY l_returnflag
      |               ORDER BY l_extendedprice) AS rnk,
      |             count(*) OVER (PARTITION BY l_returnflag) AS n
      |           FROM lineitem),
      |b AS (SELECT l_returnflag,
      |        min(CASE WHEN rnk = CAST(ceil(n * 0.05) AS BIGINT)
      |                 THEN l_extendedprice END) AS lo,
      |        max(CASE WHEN rnk = CAST(ceil(n * 0.95) AS BIGINT)
      |                 THEN l_extendedprice END) AS hi
      |      FROM r GROUP BY 1)
      |SELECT li.l_returnflag,
      |  CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_lo,
      |  CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_clip_hi,
      |  CAST(sum(CAST(CAST(greatest(lo, least(hi, l_extendedprice))
      |    AS DECIMAL(18,2)) * 100 AS BIGINT)) AS BIGINT) AS cents_winsorized
      |FROM lineitem li JOIN b ON li.l_returnflag = b.l_returnflag
      |GROUP BY li.l_returnflag ORDER BY li.l_returnflag""".stripMargin

  /** L3f — sparse lexical cosine retrieval: top-k documents per probe
    * by cosine over integer term-frequency vectors. The dot product
    * Σ tf_p·tf_c and both norms Σ tf² are EXACT integer sums (term
    * order irrelevant — no float accumulation anywhere); the cosine is
    * one fixed IEEE chain per pair. Candidates come from the term-
    * keyed join, so only documents sharing ≥1 term with a probe are
    * ever scored (inverted-index semantics — never all-pairs); at
    * 100 TB the tf table is the term-bucketed index and the probe side
    * broadcasts. */
  def lexicalCosine(s: SparkSession, dir: String, k: Int = 5): DataFrame = {
    // Fused census expression (TermCounts): term frequencies and the
    // ℓ² norm are document-local, so the former word explode +
    // (doc, term) hash-aggregate exchange + separate norm aggregate
    // collapse into one narrow projection (guide §2.3/§2.4); the
    // inverted-index join below is the only exchange left. Counts are
    // the same exact integers.
    val census = Tables.widen(Tables.documents(s, dir))
      .select(col("doc_id"),
        graft.functions.GraftFunctions.termCounts(col("text")).as("st"))
      .persistScoped() // tf explode (probe + corpus sides) + norms
    val tf = census
      .select(col("doc_id"), explode(col("st.m")).as(Seq("term", "tf")))
    val norms = census.select(col("doc_id"), col("st.nrm2").as("nrm2"))
    val probes = tf.filter(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("term"), col("tf").as("tfp"))
    val dots = tf.join(broadcast(probes), Seq("term"))
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("tf") * col("tfp")).as("dot"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cosine").desc, col("doc_id"))
    dots
      .join(broadcast(norms.withColumnRenamed("doc_id", "probe_id")
        .withColumnRenamed("nrm2", "np2")), Seq("probe_id"))
      .join(norms, Seq("doc_id"))
      .withColumn("cosine",
        col("dot").cast("double") /
          sqrt(col("np2").cast("double") * col("nrm2").cast("double")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("rnk").cast("int").as("rnk"),
        col("doc_id").as("neighbor_id"), col("cosine"))
      .orderBy(col("probe_id"), col("rnk"))
  }

  val lexicalCosineSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
      |       WHERE term <> '' GROUP BY doc_id, term),
      |nrm AS (SELECT doc_id, sum(tf * tf) AS nrm2 FROM tf GROUP BY doc_id),
      |p AS (SELECT doc_id AS probe_id, term, tf AS tfp FROM tf WHERE doc_id < 5),
      |d AS (SELECT p.probe_id, tf.doc_id, sum(tf.tf * p.tfp) AS dot
      |      FROM tf JOIN p ON tf.term = p.term AND tf.doc_id <> p.probe_id
      |      GROUP BY 1, 2),
      |sc AS (SELECT d.probe_id, d.doc_id,
      |         CAST(dot AS DOUBLE) /
      |           sqrt(CAST(a.nrm2 AS DOUBLE) * CAST(b.nrm2 AS DOUBLE)) AS cosine
      |       FROM d JOIN nrm a ON d.probe_id = a.doc_id
      |       JOIN nrm b ON d.doc_id = b.doc_id),
      |rk AS (SELECT probe_id, doc_id, cosine,
      |         row_number() OVER (PARTITION BY probe_id
      |           ORDER BY cosine DESC, doc_id) AS rnk
      |       FROM sc)
      |SELECT probe_id, CAST(rnk AS INT) AS rnk, doc_id AS neighbor_id, cosine
      |FROM rk WHERE rnk <= 5 ORDER BY probe_id, rnk""".stripMargin

  /** E10 — k-anonymity audit: group sizes over a quasi-identifier
    * tuple, flagging equivalence classes smaller than k — the
    * re-identification-risk check a privacy pipeline runs before
    * release. One partial/final aggregate; the flag is an integer
    * comparison. */
  def kAnonymity(s: SparkSession, dir: String, k: Int = 5): DataFrame =
    Tables.customer(s, dir)
      .groupBy(col("c_nationkey"), col("c_mktsegment"))
      .agg(count(lit(1)).as("class_size"))
      .withColumn("at_risk", col("class_size") < k)
      .orderBy(col("c_nationkey"), col("c_mktsegment"))

  val kAnonymitySql: String =
    """SELECT c_nationkey, c_mktsegment, count(*) AS class_size,
      |  count(*) < 5 AS at_risk
      |FROM customer GROUP BY 1, 2
      |ORDER BY c_nationkey, c_mktsegment""".stripMargin

  /** B13 — per-customer merged-interval coverage: overlapping order
    * intervals (order date → last shipment) merged into maximal
    * islands per customer; emits islands and total covered days. The
    * cumulative-max island detection runs in a CUSTOMER-KEYED window
    * (per-key interval counts are bounded), so the operator scales by
    * key distribution, never a global sort; all date arithmetic is
    * integer days. */
  def intervalCoverage(s: SparkSession, dir: String): DataFrame = {
    val spans = Tables.orders(s, dir)
      .join(Tables.lineitem(s, dir)
          .groupBy(col("l_orderkey"))
          .agg(max(to_date(col("l_shipdate"))).as("close_d")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey").as("custkey"),
        to_date(col("o_orderdate")).as("open_d"), col("close_d"),
        col("o_orderkey").as("okey"))
    val w = Window.partitionBy(col("custkey"))
      .orderBy(col("open_d"), col("close_d"), col("okey"))
    val islands = spans
      .withColumn("prev_max_close",
        max(col("close_d")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("new_island",
        (col("prev_max_close").isNull ||
          col("open_d") > date_add(col("prev_max_close"), 1)).cast("long"))
      .withColumn("island",
        sum(col("new_island")).over(
          w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("custkey"), col("island"))
      .agg(min(col("open_d")).as("start_d"), max(col("close_d")).as("end_d"))
    islands
      .groupBy(col("custkey"))
      .agg(count(lit(1)).as("n_islands"),
        sum(datediff(col("end_d"), col("start_d")) + 1).as("covered_days"))
      .orderBy(col("custkey"))
  }

  val intervalCoverageSql: String =
    """WITH closes AS (SELECT l_orderkey, max(CAST(l_shipdate AS DATE)) AS close_d
      |                FROM lineitem GROUP BY 1),
      |spans AS (SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS open_d,
      |            close_d, o_orderkey AS okey
      |          FROM orders JOIN closes ON o_orderkey = l_orderkey),
      |m AS (SELECT custkey, open_d, close_d, okey,
      |        max(close_d) OVER (PARTITION BY custkey
      |          ORDER BY open_d, close_d, okey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
      |          AS prev_max_close
      |      FROM spans),
      |f AS (SELECT custkey, open_d, close_d, okey,
      |        CASE WHEN prev_max_close IS NULL
      |               OR open_d > prev_max_close + 1 THEN 1 ELSE 0 END AS new_island
      |      FROM m),
      |i AS (SELECT custkey, open_d, close_d,
      |        sum(new_island) OVER (PARTITION BY custkey
      |          ORDER BY open_d, close_d, okey
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |      FROM f),
      |isl AS (SELECT custkey, island, min(open_d) AS start_d, max(close_d) AS end_d
      |        FROM i GROUP BY 1, 2)
      |SELECT custkey, count(*) AS n_islands,
      |  CAST(sum(date_diff('day', start_d, end_d) + 1) AS BIGINT) AS covered_days
      |FROM isl GROUP BY custkey ORDER BY custkey""".stripMargin

  /** TS7 — seasonal index: each calendar month's share of exact-cent
    * revenue relative to a flat month (1/12 of total) — the
    * multiplicative seasonal component a demand pipeline divides out
    * before trend fitting. Two keyed aggregates + one scalar
    * broadcast; index = one double division chain over exact ints. */
  def seasonalIndex(s: SparkSession, dir: String): DataFrame = {
    val cents = Tables.lineitem(s, dir)
      .select(month(to_date(col("l_shipdate"))).cast("int").as("m"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("c"))
      .groupBy(col("m")).agg(sum(col("c")).as("cents"))
      .persistScoped() // read twice: the total and the per-month output
    val total = cents.agg(sum(col("cents")).as("total"))
    cents.crossJoin(broadcast(total))
      .select(col("m"), col("cents"),
        (col("cents").cast("double") * 12.0 / col("total").cast("double"))
          .as("seasonal_idx"))
      .orderBy(col("m"))
  }

  val seasonalIndexSql: String =
    """WITH mc AS (SELECT CAST(month(CAST(l_shipdate AS DATE)) AS INT) AS m,
      |              sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
      |                AS BIGINT)) AS cents
      |            FROM lineitem GROUP BY 1),
      |t AS (SELECT CAST(sum(cents) AS BIGINT) AS total FROM mc)
      |SELECT m, CAST(cents AS BIGINT) AS cents,
      |  CAST(cents AS DOUBLE) * 12.0 / CAST(total AS DOUBLE) AS seasonal_idx
      |FROM mc, t ORDER BY m""".stripMargin

  /** W23 — noisy-count release (differential-privacy shape): per-group
    * counts plus Laplace(1/ε) noise via the inverse CDF,
    * noise = −(1/ε)·sgn(u−½)·ln(1−2|u−½|). The uniform u is the top
    * 52 bits of md5(group)/2⁵², an exact dyadic double, so the whole
    * chain — ln included — is one fixed IEEE sequence both engines
    * evaluate identically: a DETERMINISTIC noise instance, which is
    * what makes the release oracle-checkable (a production system
    * swaps in a sealed RNG seed; the query shape — aggregate, then a
    * per-group scalar chain — is unchanged, and the noisy column is
    * what leaves the boundary). One aggregate; noise is a projection. */
  def dpNoisyCounts(s: SparkSession, dir: String, epsilon: Double = 1.0): DataFrame = {
    val u = (conv(substring(md5(col("lang")), 1, 13), 16, 10).cast("long")
      .cast("double") / lit(4503599627370496.0)) // 2^52
    Tables.documents(s, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
      .withColumn("u", u)
      .select(col("lang"), col("n"),
        (col("n").cast("double") +
          lit(-1.0 / epsilon) *
            when(col("u") >= 0.5, 1.0).otherwise(-1.0) *
            log(lit(1.0) - lit(2.0) * abs(col("u") - lit(0.5))))
          .as("noisy_n"))
      .orderBy(col("lang"))
  }

  val dpNoisyCountsSql: String =
    """WITH g AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
      |c AS (SELECT lang, n,
      |        CAST(concat('0x', substring(md5(lang), 1, 13)) AS BIGINT)
      |          / 4503599627370496.0 AS u
      |      FROM g)
      |SELECT lang, n,
      |  CAST(n AS DOUBLE) + (-1.0) *
      |    (CASE WHEN u >= 0.5 THEN 1.0 ELSE -1.0 END) *
      |    ln(1.0 - 2.0 * abs(u - 0.5)) AS noisy_n
      |FROM c ORDER BY lang""".stripMargin

  /** G25 — weighted discrete percentiles: per return flag, the
    * quantity-weighted p25/p50/p75 of unit price — "the price at
    * which a quarter of the UNITS (not rows) sold below" — the
    * shipment/volume-weighted statistic plain percentiles misstate
    * whenever weight correlates with value. Definition: smallest
    * price whose cumulative weight reaches q·W (discrete, no
    * interpolation — engine-neutral; cw·4 ≥ q·tw on integers ⇔
    * cw ≥ ceil(q·tw/4)). Scale shape: extended-price cents live on
    * the bounded PRICE GRID (quantity × part retail price — a
    * domain, not a data scale), so ONE hash aggregate collapses the
    * fact table to the per-flag weight distribution and the
    * cumulative pass is a per-flag window over domain-sized rows —
    * the same bounded-domain argument as the JS-divergence vocab.
    * The generic crossing-partition machinery
    * ([[graft.operators.Ranked.cutValues]], kept for truly
    * unbounded order domains) costs 3 extra jobs (persist, range
    * sampling, offset collect) that the collapse makes redundant.
    * Exact integer cents and weights throughout. */
  def weightedPercentile(s: SparkSession, dir: String): DataFrame = {
    // One aggregate over the staged cumulative price census
    // ([[PriceStage.census]] — first consumer in the process pays the
    // one distributed census+window build, everyone reads parquet):
    // cww there IS this query's former per-(flag, cents) cumulative
    // weight window (price order ≡ cents order — strictly monotone
    // map; both are exact integer sums), and wt its former tw. The
    // whole former chain (fact aggregate + flag exchange + sort + two
    // windows) collapses to a map-side-combining min/when aggregate
    // over ≤|price grid| rows.
    val cen = PriceStage.census(s, dir)
      .select(col("l_returnflag"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
          .as("cents"),
        col("cww").as("cw"), col("wt").as("tw"))
    cen.groupBy(col("l_returnflag"), col("tw"))
      .agg(
        min(when(col("cw") * 4 >= col("tw"), col("cents"))).as("c25"),
        min(when(col("cw") * 2 >= col("tw"), col("cents"))).as("c50"),
        min(when(col("cw") * 4 >= col("tw") * 3, col("cents"))).as("c75"))
      .select(col("l_returnflag"), col("tw").as("total_weight"),
        (col("c25").cast("double") / 100).as("wp25"),
        (col("c50").cast("double") / 100).as("wp50"),
        (col("c75").cast("double") / 100).as("wp75"))
      .orderBy(col("l_returnflag"))
  }

  val weightedPercentileSql: String =
    """WITH b AS (SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents,
      |    CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS w
      |  FROM lineitem GROUP BY 1, 2),
      |c AS (SELECT l_returnflag, cents, w,
      |        CAST(sum(w) OVER (PARTITION BY l_returnflag
      |          ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
      |          AS cw,
      |        CAST(sum(w) OVER (PARTITION BY l_returnflag) AS BIGINT) AS tw
      |      FROM b)
      |SELECT l_returnflag, tw AS total_weight,
      |  CAST(min(CASE WHEN cw * 4 >= tw THEN cents END) AS DOUBLE) / 100
      |    AS wp25,
      |  CAST(min(CASE WHEN cw * 2 >= tw THEN cents END) AS DOUBLE) / 100
      |    AS wp50,
      |  CAST(min(CASE WHEN cw * 4 >= tw * 3 THEN cents END) AS DOUBLE) / 100
      |    AS wp75
      |FROM c GROUP BY l_returnflag, tw ORDER BY l_returnflag""".stripMargin

  /** G28 — bounded-sample quantiles over a deterministic KMV row
    * sample: the quantile member of the sketch family (KMV distinct /
    * HLL / CMS / Bloom / bitmap), and the only APPROXIMATE quantile
    * here that is fully oracle-checkable — because the "randomness"
    * is a pure function of the data. The sample is the k=1024 rows
    * with the smallest 60-bit md5 hash of the row key (orderkey |
    * linenumber | cents): selection-by-smallest-hash is a uniform
    * without-replacement draw that is commutative, idempotent, and
    * mergeable (the k smallest of a union are the k smallest of the
    * parts' k-smallest), so Spark plans it as map-side-combined
    * TakeOrdered — at most k rows leave any partition, never the fact
    * table — and both engines rebuild the identical sample
    * bit-for-bit (no RNG, no partition-order dependence). Estimates
    * are the discrete inverse CDF over the sample (smallest value
    * whose sample rank reaches ceil(p·m)); rank-space error is
    * O(1/√k), pinned against the exact percentiles in QualitySpec.
    * An empty slice yields zero rows (no sample, no estimates). */
  def sampleQuantiles(s: SparkSession, dir: String, k: Int = 1024): DataFrame = {
    // widen: the per-row md5 draw is the cost here, and a one-row-group
    // input scans as a single task (Tables.widen is a no-op whenever
    // the scan already parallelizes)
    val b = Tables.widen(Tables.lineitem(s, dir))
      .select(col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
          .as("cents"))
      // integer-only hash key: a float column through CAST-AS-STRING
      // would be a cross-engine formatting trap (25.0 vs 25)
      .select(col("cents"),
        expr("CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), " +
          "'|', CAST(l_linenumber AS STRING), '|', " +
          "CAST(cents AS STRING))), 1, 15), 16, 10) AS BIGINT)").as("h"))
    // the KMV draw: k smallest hashes, (h, cents) total order so a
    // boundary tie picks rows of identical content either way
    val sample = b.orderBy(col("h"), col("cents")).limit(k)
    // global windows over ≤k rows — the bounded-relation exception
    val ranked = sample.select(col("cents"),
      row_number().over(Window.orderBy(col("cents"), col("h"))).as("rn"),
      count(lit(1)).over(Window.partitionBy()).as("m"))
    ranked.groupBy(col("m"))
      .agg(est(1, 4).as("e25"), est(1, 2).as("e50"), est(3, 4).as("e75"),
        est(9, 10).as("e90"), est(99, 100).as("e99"))
      .select(col("m").cast("bigint").as("sample_rows"),
        col("e25"), col("e50"), col("e75"), col("e90"), col("e99"))
  }

  /** Discrete inverse-CDF read-out over a ranked sample: smallest
    * value whose rank reaches ceil(p·m), p = num/den. Shared by the
    * global and grouped sample-quantile forms. */
  private def est(num: Int, den: Int): Column =
    (min(when(col("rn") * den >= col("m") * num, col("cents")))
      .cast("double") / 100)

  /** G28b — per-group sample quantiles: the grouped form of
    * [[sampleQuantiles]], with the KMV draw running as the engine's
    * own [[graft.operators.TopKPairs]] bounded-heap AGGREGATE
    * (value = −hash, id = cents → the k smallest (hash, cents) pairs
    * per group, the exact tiebreak the global draw uses). Map-side
    * combine ships ≤k rows per (group × partition) — the fact stream
    * never reaches the exchange — and the draw stays a pure function
    * of the data, so the DuckDB oracle rebuilds every per-group
    * sample and estimate bit-for-bit. The inverse-CDF windows run
    * over the ≤k-row per-group sample relation only. */
  def sampleQuantilesGrouped(s: SparkSession, dir: String, k: Int = 256): DataFrame = {
    val heap = udaf(new graft.operators.TopKPairs(k))
    // widen: same single-task-scan guard as the global form — the md5
    // draw dominates and must use every core
    val b = Tables.widen(Tables.lineitem(s, dir))
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")
          .as("cents"))
      .select(col("l_returnflag"), col("cents"),
        expr("CAST(conv(substring(md5(concat(CAST(l_orderkey AS STRING), " +
          "'|', CAST(l_linenumber AS STRING), '|', " +
          "CAST(cents AS STRING))), 1, 15), 16, 10) AS BIGINT)").as("h"))
    // The ONE distributed pass (md5 + bounded-heap KMV draw) stays;
    // the per-group samples are BOUNDED BY CONSTRUCTION (≤ k=256 rows
    // × the return-flag enum), so the inverse-CDF read-out — formerly
    // two windows + an aggregate + a sort over the sample relation —
    // replays locally over the collected samples (§2.4 bounded-
    // metadata collapse). Exact replication: rn·den ≥ m·num over the
    // ascending-cents sample ⇔ index of the first crossing in the
    // locally sorted array; the /100 double division is the same one
    // IEEE op per estimate.
    val sampled = b.groupBy(col("l_returnflag"))
      .agg(heap(-col("h"), col("cents")).as("s"))
      .select(col("l_returnflag"), explode(col("s")).as("e"))
      // e = (rank-by-hash, −h, cents); only the sampled value matters
      // downstream — ties among equal cents rank arbitrarily but read
      // identically
      .select(col("l_returnflag"), col("e._3").as("cents"))
    val samples = graft.Bounded.collect(sampled, 16 * k,
      "sampled rows (k × |flag enum|) in the grouped quantile samples")
    val rows = samples.groupBy(_.getString(0)).toSeq.sortBy(_._1).map {
      case (flag, rs) =>
        val cents = rs.map(_.getLong(1)).sorted
        val m = cents.length.toLong
        // min cents with rn·den ≥ m·num, rn 1-based ⇔ first index where
        // the integer crossing holds (exact integer comparison)
        def est(num: Int, den: Int): Double = {
          var i = 1L
          while (i * den < m * num) i += 1
          cents((i - 1).toInt).toDouble / 100
        }
        org.apache.spark.sql.Row(flag, m, est(1, 4), est(1, 2), est(3, 4),
          est(9, 10), est(99, 100))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("l_returnflag",
        org.apache.spark.sql.types.StringType, nullable = false),
      org.apache.spark.sql.types.StructField("sample_rows",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("e25",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("e50",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("e75",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("e90",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("e99",
        org.apache.spark.sql.types.DoubleType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList(
        java.util.Arrays.asList(rows: _*)), schema)
      .orderBy(col("l_returnflag"))
  }

  val sampleQuantilesGroupedSql: String =
    """WITH b AS (SELECT l_returnflag,
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents, l_orderkey, l_linenumber
      |  FROM lineitem),
      |h AS (SELECT l_returnflag, cents,
      |    CAST(concat('0x', substring(md5(concat(
      |      CAST(l_orderkey AS VARCHAR), '|', CAST(l_linenumber AS VARCHAR),
      |      '|', CAST(cents AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      |  FROM b),
      |s AS (SELECT l_returnflag, cents FROM (
      |        SELECT l_returnflag, cents,
      |          row_number() OVER (PARTITION BY l_returnflag
      |            ORDER BY h, cents) AS hr
      |        FROM h) WHERE hr <= 256),
      |r AS (SELECT l_returnflag, cents,
      |        row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY cents) AS rn,
      |        count(*) OVER (PARTITION BY l_returnflag) AS m
      |      FROM s)
      |SELECT l_returnflag, CAST(m AS BIGINT) AS sample_rows,
      |  CAST(min(CASE WHEN rn * 4 >= m THEN cents END) AS DOUBLE) / 100 AS e25,
      |  CAST(min(CASE WHEN rn * 2 >= m THEN cents END) AS DOUBLE) / 100 AS e50,
      |  CAST(min(CASE WHEN rn * 4 >= m * 3 THEN cents END) AS DOUBLE) / 100 AS e75,
      |  CAST(min(CASE WHEN rn * 10 >= m * 9 THEN cents END) AS DOUBLE) / 100 AS e90,
      |  CAST(min(CASE WHEN rn * 100 >= m * 99 THEN cents END) AS DOUBLE) / 100 AS e99
      |FROM r GROUP BY l_returnflag, m ORDER BY l_returnflag""".stripMargin

  val sampleQuantilesSql: String =
    """WITH b AS (SELECT
      |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |      AS cents, l_orderkey, l_linenumber
      |  FROM lineitem),
      |h AS (SELECT cents,
      |    CAST(concat('0x', substring(md5(concat(
      |      CAST(l_orderkey AS VARCHAR), '|', CAST(l_linenumber AS VARCHAR),
      |      '|', CAST(cents AS VARCHAR))), 1, 15)) AS BIGINT) AS h
      |  FROM b),
      |s AS (SELECT cents, h FROM h ORDER BY h, cents LIMIT 1024),
      |r AS (SELECT cents,
      |        row_number() OVER (ORDER BY cents, h) AS rn,
      |        count(*) OVER () AS m
      |      FROM s)
      |SELECT CAST(m AS BIGINT) AS sample_rows,
      |  CAST(min(CASE WHEN rn * 4 >= m THEN cents END) AS DOUBLE) / 100 AS e25,
      |  CAST(min(CASE WHEN rn * 2 >= m THEN cents END) AS DOUBLE) / 100 AS e50,
      |  CAST(min(CASE WHEN rn * 4 >= m * 3 THEN cents END) AS DOUBLE) / 100 AS e75,
      |  CAST(min(CASE WHEN rn * 10 >= m * 9 THEN cents END) AS DOUBLE) / 100 AS e90,
      |  CAST(min(CASE WHEN rn * 100 >= m * 99 THEN cents END) AS DOUBLE) / 100 AS e99
      |FROM r GROUP BY m""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sample_quantiles" -> ((s: SparkSession, d: String) => sampleQuantiles(s, d)),
    "q_sample_quantiles_grouped" -> ((s: SparkSession, d: String) => sampleQuantilesGrouped(s, d)),
    "q_weighted_percentile" -> (weightedPercentile _),
    "q_dp_counts" -> ((s: SparkSession, d: String) => dpNoisyCounts(s, d)),
    "q_winsorize" -> (winsorize _),
    "q_lexical_cosine" -> ((s: SparkSession, d: String) => lexicalCosine(s, d)),
    "q_k_anonymity" -> ((s: SparkSession, d: String) => kAnonymity(s, d)),
    "q_interval_coverage" -> (intervalCoverage _),
    "q_seasonal_index" -> (seasonalIndex _),
  )

  val oracle: Map[String, String] = Map(
    "q_sample_quantiles" -> sampleQuantilesSql,
    "q_sample_quantiles_grouped" -> sampleQuantilesGroupedSql,
    "q_weighted_percentile" -> weightedPercentileSql,
    "q_dp_counts" -> dpNoisyCountsSql,
    "q_winsorize" -> winsorizeSql,
    "q_lexical_cosine" -> lexicalCosineSql,
    "q_k_anonymity" -> kAnonymitySql,
    "q_interval_coverage" -> intervalCoverageSql,
    "q_seasonal_index" -> seasonalIndexSql,
  )
}
