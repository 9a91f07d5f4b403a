package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup
import graft.Caches.PersistScoped

/** Round-6 curation and API-surface operators: per-domain caps,
  * canonical-duplicate selection, quantile normalization, keyset
  * pagination, change-point scanning, filtered aggregates, and the
  * SQL entrypoint. All oracle-checked; numeric conventions follow
  * ARCHITECTURE.md "Cross-engine determinism" (exact integer/decimal
  * accumulation, one final float op per output, total ORDER BY).
  */
object Curate {

  /** L8 — per-domain document cap: keep at most `cap` documents per
    * source/domain, selected by a deterministic content-free coin
    * (md5 of the doc id) so the survivors are a stable uniform sample
    * — the web-corpus curation rule that stops one domain from
    * dominating the training mix.
    *
    * Skew-safe two-stage top-k: stage 1 windows over (source, salt) —
    * the salt is the coin's first hex nibble, so a mega-domain
    * (half the web corpus behind one source) fans into 16 partial
    * top-`cap` computations instead of funneling through one task;
    * stage 2 re-ranks the ≤16·cap survivors per source. The result is
    * bit-identical to the single global window (each salt bucket's
    * top-cap is a superset of its members in the global top-cap, and
    * the coin order is total), which is what the oracle checks. */
  def domainCap(s: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    val wSalted = Window.partitionBy(col("source"), col("salt"))
      .orderBy(col("coin"), col("doc_id"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("coin"), col("doc_id"))
    Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        md5(col("doc_id").cast("string")).as("coin"))
      .withColumn("salt", substring(col("coin"), 1, 1))
      .withColumn("rk1", row_number().over(wSalted))
      .filter(col("rk1") <= cap)
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= cap)
      .select(col("doc_id"), col("source"), col("rk").cast("int").as("rk"))
      .orderBy(col("doc_id"))
  }

  val domainCapSql: String =
    """SELECT doc_id, source, CAST(rk AS INT) AS rk FROM (
      |  SELECT doc_id, source,
      |    row_number() OVER (PARTITION BY source
      |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
      |  FROM documents)
      |WHERE rk <= 10 ORDER BY doc_id""".stripMargin

  /** L9 — canonical-duplicate selection: connected components over
    * strong near-dup pairs (the q_dedup_clusters graph, run to its
    * checked fixpoint), then per cluster keep the HIGHEST-QUALITY
    * member (most tokens; ties to the lowest doc id) instead of the
    * min-id member — the curation step that keeps the best copy of a
    * near-dup family rather than an arbitrary one. The argmax is one
    * partial/final `max(struct(ntok, -doc_id))` aggregate — no
    * per-cluster sort. */
  def dedupCanonical(s: SparkSession, dir: String): DataFrame = {
    val labels = Dedup.dedupClusters(
      Dedup.jaccardFromOverlap(ShingleStage.overlap3(s, dir), 0.6)
        .select(col("doc_id_a"), col("doc_id_b")))
    val ntok = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("bigint").as("ntok"))
    labels.join(ntok, Seq("doc_id"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("ntok"), (-col("doc_id")).as("neg"))).as("m"))
      .select(col("cluster_id"), col("n_members"),
        col("m.ntok").as("best_ntok"), (-col("m.neg")).as("canonical_doc"))
      .orderBy(col("cluster_id"))
  }

  val dedupCanonicalSql: String = {
    // The shared min-propagation unroll (Llm.ccUnroll), then an
    // argmax by (ntok DESC, doc_id).
    s"""${Llm.shingleCte},
      |${Llm.strongPairsCte()},
      |${Llm.ccUnroll()},
      |q AS (SELECT l8.node AS doc_id, l8.label AS cluster_id,
      |        CAST(len(string_split(d.text, ' ')) AS BIGINT) AS ntok
      |      FROM l8 JOIN documents d ON l8.node = d.doc_id),
      |rk AS (SELECT cluster_id, ntok, doc_id,
      |         row_number() OVER (PARTITION BY cluster_id
      |           ORDER BY ntok DESC, doc_id) AS r,
      |         count(*) OVER (PARTITION BY cluster_id) AS n_members
      |       FROM q)
      |SELECT cluster_id, CAST(n_members AS BIGINT) AS n_members,
      |  ntok AS best_ntok, doc_id AS canonical_doc
      |FROM rk WHERE r = 1 ORDER BY cluster_id""".stripMargin
  }

  /** C7 — per-group quantile normalization: each order's total price
    * maps to its exact rank position within its status group,
    * normalized to [0, 1] — the preprocessing step that makes a
    * feature distribution-free. Rank semantics are EXPLICIT row
    * position under the total order (price, orderkey), not built-in
    * percent_rank (whose tie semantics differ across engines). The
    * global per-group rank comes from the shared two-pass range-
    * repartition + broadcast-offset builder ([[graft.operators.Ranked
    * .groupRanks]] — every row needs its position, so this is the
    * full-rank form, not the bounded cut lookup). qnorm =
    * (rank−1)/(n−1) is one exact integer division to double per row. */
  def quantileNorm(s: SparkSession, dir: String): DataFrame =
    graft.operators.Ranked.groupRanks(
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")),
      Seq("o_orderstatus"), Seq(col("o_totalprice"), col("o_orderkey")))
      .select(col("o_orderkey"), col("o_orderstatus"),
        ((col("rnk") - 1).cast("double") / (col("grp_n") - 1).cast("double"))
          .as("qnorm"))
      .orderBy(col("o_orderkey"))

  val quantileNormSql: String =
    """WITH r AS (SELECT o_orderkey, o_orderstatus,
      |             row_number() OVER (PARTITION BY o_orderstatus
      |               ORDER BY o_totalprice, o_orderkey) AS rnk,
      |             count(*) OVER (PARTITION BY o_orderstatus) AS grp_n
      |           FROM orders)
      |SELECT o_orderkey, o_orderstatus,
      |  CAST(rnk - 1 AS DOUBLE) / CAST(grp_n - 1 AS DOUBLE) AS qnorm
      |FROM r ORDER BY o_orderkey""".stripMargin

  /** S9 — keyset (seek) pagination: the page AFTER a composite cursor
    * (last_date, last_key), fetched as a lexicographic predicate +
    * bounded sort — the scale-safe replacement for OFFSET, which
    * re-scans and re-sorts everything before the page at every call.
    * The predicate prunes at the scan (min/max stats skip earlier
    * files when data is written date-sorted) and the global sort only
    * ever materializes `pageSize` rows (TakeOrderedAndProject). */
  def keysetPage(s: SparkSession, dir: String, pageSize: Int = 500): DataFrame = {
    val lastDate = "1995-06-15"
    val lastKey = 3000L
    Tables.orders(s, dir)
      .filter(col("o_orderdate") > lit(lastDate) ||
        (col("o_orderdate") === lit(lastDate) && col("o_orderkey") > lastKey))
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_date"),
        col("o_totalprice"))
      .orderBy(col("o_date"), col("o_orderkey"))
      .limit(pageSize)
  }

  val keysetPageSql: String =
    """SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_date, o_totalprice
      |FROM orders
      |WHERE (CAST(o_orderdate AS DATE), o_orderkey)
      |      > (DATE '1995-06-15', 3000)
      |ORDER BY o_date, o_orderkey LIMIT 500""".stripMargin

  /** TS6 — cumulative-deviation change-point scan: where does the
    * daily order volume's cumulative deviation from its own mean peak?
    * s_num(t) = D·cum(t) − t·T (the CUSUM numerator scaled by the day
    * count D, total T) stays in exact int64, so the argmax day is
    * bit-portable — no float mean ever crosses a comparison. The
    * fact-volume pass is the per-day aggregate; the prefix sum over
    * the day relation uses the two-pass partition-offset pattern
    * (unbounded-span safe, cf. q_concurrency). */
  def changePoint(s: SparkSession, dir: String): DataFrame = {
    // The day relation is CALENDAR-BOUNDED (TPC-H order dates span
    // ~2.4k days at any SF), so the ONE fact-volume aggregate stays
    // distributed and the former prefix-sum machinery (two persists,
    // range exchange, offset + total broadcasts, peak scalar pass —
    // ~5 sequential jobs over ≤2.5k rows) replays locally over the
    // collected census in exact int64: cum/t in day order,
    // s_num = n_days·cum − t·tot, peak by integer comparison (§2.4
    // bounded-metadata collapse, the month-spine precedent).
    val daily = graft.Bounded.collect(Tables.orders(s, dir)
        .groupBy(to_date(col("o_orderdate")).as("d"))
        .agg(count(lit(1)).as("n")),
      4096, "distinct order days in the change-point census")
    val byDay = daily.map(r => (r.getDate(0), r.getLong(1))).sortBy(_._1.getTime)
    val totN = byDay.map(_._2).sum
    val nDays = byDay.length.toLong
    var cum = 0L
    val scored = byDay.zipWithIndex.map { case ((d, n), i) =>
      cum += n
      (d, n, nDays * cum - (i + 1L) * totN)
    }
    val peak = if (scored.isEmpty) 0L else scored.map(x => math.abs(x._3)).max
    val rows = scored.map { case (d, n, sNum) =>
      org.apache.spark.sql.Row(d, n, sNum, math.abs(sNum) == peak)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("d",
        org.apache.spark.sql.types.DateType, nullable = false),
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("s_num",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("is_peak",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList(
        java.util.Arrays.asList(rows: _*)), schema)
      .orderBy(col("d"))
  }

  val changePointSql: String =
    """WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS d, count(*) AS n
      |               FROM orders GROUP BY 1),
      |c AS (SELECT d, n,
      |        sum(n) OVER (ORDER BY d
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        row_number() OVER (ORDER BY d) AS t,
      |        sum(n) OVER () AS tot_n, count(*) OVER () AS n_days
      |      FROM daily),
      |s AS (SELECT d, CAST(n AS BIGINT) AS n,
      |        CAST(n_days * cum - t * tot_n AS BIGINT) AS s_num
      |      FROM c)
      |SELECT d, n, s_num,
      |  abs(s_num) = (SELECT max(abs(s_num)) FROM s) AS is_peak
      |FROM s ORDER BY d""".stripMargin

  /** G15 — filtered aggregates (the FILTER (WHERE …) surface): one
    * pass computing differently-predicated aggregates side by side —
    * Spark expresses the filter as when()/otherwise inside the
    * aggregate, DuckDB as the standard FILTER clause; both are one
    * partial/final hash aggregate, no extra scan per predicate.
    * Counts and sums stay integer/exact-decimal. */
  def filteredAgg(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        count(lit(1)).as("n_all"),
        count(when(col("l_shipdate") >= "1995-01-01" &&
          col("l_shipdate") < "1996-01-01", lit(1))).as("n_1995"),
        sum(when(col("l_discount") > 0.05,
          col("l_quantity").cast("bigint"))).as("qty_discounted"),
        sum(when(col("l_quantity") >= 25,
          (col("l_extendedprice").cast("decimal(18,2)") * 100).cast("bigint")))
          .as("cents_bulk"))
      .orderBy(col("l_returnflag"))

  val filteredAggSql: String =
    """SELECT l_returnflag,
      |  count(*) AS n_all,
      |  CAST(count(*) FILTER (WHERE l_shipdate >= '1995-01-01'
      |    AND l_shipdate < '1996-01-01') AS BIGINT) AS n_1995,
      |  CAST(sum(CAST(l_quantity AS BIGINT))
      |    FILTER (WHERE l_discount > 0.05) AS BIGINT) AS qty_discounted,
      |  CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    FILTER (WHERE l_quantity >= 25) AS BIGINT) AS cents_bulk
      |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  /** D5 — SQL entrypoint parity: the same engine surface through
    * `spark.sql` over registered temp views — a user migrating from
    * the reference's config-driven CLI can drive every operator with
    * ANSI SQL instead of the DataFrame DSL, and Catalyst plans both
    * identically. Exact-cent revenue per order priority through a
    * join, all arithmetic decimal until the final bigint. */
  def sqlApi(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders_v")
    Tables.lineitem(s, dir).createOrReplaceTempView("lineitem_v")
    s.sql(
      """SELECT o.o_orderpriority AS priority,
        |  COUNT(DISTINCT o.o_orderkey) AS n_orders,
        |  SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS cents
        |FROM orders_v o JOIN lineitem_v l ON o.o_orderkey = l.l_orderkey
        |GROUP BY o.o_orderpriority
        |ORDER BY priority""".stripMargin)
  }

  val sqlApiSql: String =
    """SELECT o.o_orderpriority AS priority,
      |  COUNT(DISTINCT o.o_orderkey) AS n_orders,
      |  CAST(SUM(CAST(CAST(l.l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |    AS BIGINT) AS cents
      |FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
      |GROUP BY o.o_orderpriority
      |ORDER BY priority""".stripMargin

  /** D10 — correlated LATERAL subquery: each customer's top-2 orders
    * by value through the SQL-standard lateral form (the per-row
    * table subquery a window-function top-k expresses relationally —
    * T2 is the DataFrame twin; this is the dialect surface a SQL user
    * migrating correlated-apply workloads expects). Catalyst
    * decorrelates the ORDER BY … LIMIT subquery into a ranked join —
    * no per-row re-execution; ties are impossible (cents, o_orderkey)
    * is a total order. Both engines run the identical statement
    * modulo view names. */
  def lateralTopn(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir).createOrReplaceTempView("customer_lv")
    Tables.orders(s, dir).createOrReplaceTempView("orders_lv")
    s.sql(
      """SELECT c.c_custkey, o.o_orderkey, o.cents
        |FROM customer_lv c, LATERAL (
        |  SELECT o_orderkey,
        |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM orders_lv WHERE o_custkey = c.c_custkey
        |  ORDER BY cents DESC, o_orderkey LIMIT 2) o
        |ORDER BY c.c_custkey, cents DESC, o.o_orderkey""".stripMargin)
  }

  val lateralTopnSql: String =
    """SELECT c.c_custkey, o.o_orderkey, o.cents
      |FROM customer c, LATERAL (
      |  SELECT o_orderkey,
      |    CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
      |  FROM orders WHERE o_custkey = c.c_custkey
      |  ORDER BY cents DESC, o_orderkey LIMIT 2) o
      |ORDER BY c.c_custkey, cents DESC, o.o_orderkey""".stripMargin

  /** L13 — first-owner novelty scoring: for each document, the share
    * of its distinct 3-shingles that it is the FIRST (lowest doc id)
    * owner of across the whole corpus — the curation metric that
    * separates original content from text stitched out of earlier
    * documents (novelty ~0 means every phrase already existed).
    * Shingle sets are built narrowly per doc (array_distinct before
    * the explode — no distinct shuffle); first ownership is ONE
    * min-aggregate keyed on the shingle; the share is one exact
    * int/int IEEE division. At 100 TB the shingle key would be the
    * 60-bit NgramHashes digest rather than the string (same
    * w.h.p.-collision convention as q_dedup_ngram). */
  def novelty(s: SparkSession, dir: String): DataFrame = {
    // first_doc via a whole-partition window min instead of the former
    // aggregate + self-join: the occurrence stream crosses the wire
    // ONCE (the shingle exchange the aggregate needed anyway) and the
    // persist + second shingle-keyed pass disappear; min over the
    // partition is the same exact value the aggregate produced.
    val sh = Dedup.shingles(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), 3)
    sh.withColumn("first_doc",
        min(col("doc_id")).over(Window.partitionBy(col("shingle"))))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .select(col("doc_id"), col("n_shingles"), col("n_novel"),
        (col("n_novel").cast("double") / col("n_shingles").cast("double"))
          .as("novelty"))
      .orderBy(col("doc_id"))
  }

  val noveltySql: String =
    s"""${Llm.shingleCte},
      |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY shingle)
      |SELECT sh.doc_id, count(*) AS n_shingles,
      |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_novel,
      |  CAST(sum(CASE WHEN f.first_doc = sh.doc_id THEN 1 ELSE 0 END) AS DOUBLE)
      |    / count(*) AS novelty
      |FROM sh JOIN f ON sh.shingle = f.shingle
      |GROUP BY sh.doc_id ORDER BY sh.doc_id""".stripMargin

  /** L14 — per-source diversity: distinct shingles over total shingle
    * occurrences for each source — the corpus-level repetitiveness
    * audit (a boilerplate-heavy source scores low and gets
    * down-weighted in the training mix; the per-DOC twin is
    * q_repetition). Occurrences stream through one count aggregate;
    * the distinct count is exact (count_distinct over the narrow
    * per-doc sets would undercount cross-doc repeats, so distinctness
    * here is corpus-wide per source). */
  def sourceDiversity(s: SparkSession, dir: String): DataFrame = {
    val occ = Dedup.shingleOccurrences(
      Tables.documents(s, dir).select(col("doc_id"), col("text")), 3)
    // shingleOccurrences emits only (doc_id, shingle); re-attach source
    val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
    occ.join(broadcast(src), Seq("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("shingle")).as("n_distinct"))
      .select(col("source"), col("n_occurrences"), col("n_distinct"),
        (col("n_distinct").cast("double") / col("n_occurrences").cast("double"))
          .as("diversity"))
      .orderBy(col("source"))
  }

  val sourceDiversitySql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |           FROM documents),
      |occ AS (SELECT doc_id, source,
      |          unnest(list_transform(range(1, len(w) - 1),
      |            i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
      |        FROM w WHERE len(w) >= 3)
      |SELECT source, count(*) AS n_occurrences,
      |  CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
      |  CAST(count(DISTINCT shingle) AS DOUBLE) / count(*) AS diversity
      |FROM occ GROUP BY source ORDER BY source""".stripMargin

  /** L18 — cross-source overlap matrix: shingle-set Jaccard and
    * overlap coefficient between every source pair — the corpus-level
    * contamination audit (which sources copy from each other; a high
    * overlap pair means one of them should be down-weighted or
    * dropped). Per-doc shingle sets build narrowly; one distinct per
    * (source, shingle); the pair intersection is a shingle-keyed
    * self-join — collision-driven, never all-pairs of documents. At
    * 100 TB the join key is the 60-bit NgramHashes digest, not the
    * string. */
  def sourceOverlap(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
    // Shingle identity = the staged 60-bit digest (ShingleStage
    // profiles), the same equivalence the whole dedup-audit family
    // rides (ShingleProfile.hs ≡ NgramHashes, DedupSpec): the corpus
    // md5/split pass runs once per process instead of once more here,
    // and the distinct + pair self-join shuffle 8-byte keys instead of
    // shingle strings (narrower exchange, same counts).
    val sh = ShingleStage.profiles(s, dir)
      .select(col("doc_id"), explode(col("hs")).as("shingle"))
      .join(broadcast(docs.select(col("doc_id"), col("source"))), Seq("doc_id"))
      .select(col("source"), col("shingle")).distinct()
      .persistScoped() // sizes + the per-shingle source-set pass
    val sizes = sh.groupBy(col("source")).agg(count(lit(1)).as("n_sh"))
    // per-shingle sorted source set → pair explode: the intersection
    // census partial-aggregates map-side into ≤C(|sources|,2) cells
    // instead of shuffling both sides of a shingle-keyed self-join;
    // source fan-out per shingle is bounded by the (low-cardinality by
    // construction) source domain, so the arrays stay tiny at any
    // corpus size. Same exact pair counts.
    sh.groupBy(col("shingle"))
      .agg(sort_array(collect_set(col("source"))).as("srcs"))
      .select(explode(expr("flatten(transform(srcs, a -> " +
        "transform(filter(srcs, b -> b > a), " +
        "b -> named_struct('source_a', a, 'source_b', b))))")).as("p"))
      .select(col("p.source_a"), col("p.source_b"))
      .groupBy(col("source_a"), col("source_b"))
      .agg(count(lit(1)).as("inter"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_a")
        .withColumnRenamed("n_sh", "na")), Seq("source_a"))
      .join(broadcast(sizes.withColumnRenamed("source", "source_b")
        .withColumnRenamed("n_sh", "nb")), Seq("source_b"))
      .select(col("source_a"), col("source_b"), col("inter"),
        (col("inter").cast("double") /
          (col("na") + col("nb") - col("inter")).cast("double")).as("jaccard"),
        (col("inter").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("overlap"))
      .orderBy(col("source_a"), col("source_b"))
  }

  val sourceOverlapSql: String =
    """WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
      |           FROM documents),
      |sh AS (SELECT DISTINCT source, unnest(list_transform(range(1, len(w) - 1),
      |         i -> concat_ws(' ', w[i], w[i+1], w[i+2]))) AS shingle
      |       FROM w WHERE len(w) >= 3),
      |sz AS (SELECT source, count(*) AS n_sh FROM sh GROUP BY source),
      |pairs AS (SELECT a.source AS source_a, b.source AS source_b,
      |            count(*) AS inter
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.source < b.source
      |          GROUP BY 1, 2)
      |SELECT source_a, source_b, CAST(inter AS BIGINT) AS inter,
      |  CAST(inter AS DOUBLE) / CAST(sa.n_sh + sb.n_sh - inter AS DOUBLE)
      |    AS jaccard,
      |  CAST(inter AS DOUBLE) / CAST(least(sa.n_sh, sb.n_sh) AS DOUBLE)
      |    AS overlap
      |FROM pairs JOIN sz sa ON source_a = sa.source
      |JOIN sz sb ON source_b = sb.source
      |ORDER BY source_a, source_b""".stripMargin

  /** L19 — curation filter funnel: how many documents survive each
    * successive curation predicate (length → token count → target
    * language → lexical diversity) — the report every corpus pipeline
    * publishes with its release. ONE narrow pass computes all flags;
    * the funnel is a single aggregate of running conjunctions (no
    * per-stage scans); the long-form output comes from inlining the
    * five counters. */
  def filterFunnel(s: SparkSession, dir: String): DataFrame = {
    val flagged = Tables.documents(s, dir)
      .select(
        (col("n_chars") >= 200).cast("long").as("f1"),
        (size(split(col("text"), " ")) >= 30).cast("long").as("f2"),
        col("lang").isin("en", "de", "fr", "es").cast("long").as("f3"),
        (size(array_distinct(split(col("text"), " "))).cast("double") >=
          size(split(col("text"), " ")).cast("double") * 0.5)
          .cast("long").as("f4"))
    val agg = flagged.agg(
      count(lit(1)).as("n0"),
      sum(col("f1")).as("n1"),
      sum(col("f1") * col("f2")).as("n2"),
      sum(col("f1") * col("f2") * col("f3")).as("n3"),
      sum(col("f1") * col("f2") * col("f3") * col("f4")).as("n4"))
    agg.select(inline(array(
        struct(lit(0).as("stage"), lit("all").as("filter_name"),
          col("n0").as("n_surviving"), lit(0L).as("n_dropped")),
        struct(lit(1).as("stage"), lit("min_chars_200").as("filter_name"),
          col("n1").as("n_surviving"), (col("n0") - col("n1")).as("n_dropped")),
        struct(lit(2).as("stage"), lit("min_tokens_30").as("filter_name"),
          col("n2").as("n_surviving"), (col("n1") - col("n2")).as("n_dropped")),
        struct(lit(3).as("stage"), lit("target_lang").as("filter_name"),
          col("n3").as("n_surviving"), (col("n2") - col("n3")).as("n_dropped")),
        struct(lit(4).as("stage"), lit("lexical_diversity").as("filter_name"),
          col("n4").as("n_surviving"), (col("n3") - col("n4")).as("n_dropped")))))
      .orderBy(col("stage"))
  }

  val filterFunnelSql: String =
    """WITH f AS (SELECT
      |    CASE WHEN n_chars >= 200 THEN 1 ELSE 0 END AS f1,
      |    CASE WHEN len(string_split(text, ' ')) >= 30 THEN 1 ELSE 0 END AS f2,
      |    CASE WHEN lang IN ('en','de','fr','es') THEN 1 ELSE 0 END AS f3,
      |    CASE WHEN CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
      |      >= CAST(len(string_split(text, ' ')) AS DOUBLE) * 0.5
      |      THEN 1 ELSE 0 END AS f4
      |  FROM documents),
      |a AS (SELECT CAST(count(*) AS BIGINT) AS n0,
      |        CAST(sum(f1) AS BIGINT) AS n1,
      |        CAST(sum(f1 * f2) AS BIGINT) AS n2,
      |        CAST(sum(f1 * f2 * f3) AS BIGINT) AS n3,
      |        CAST(sum(f1 * f2 * f3 * f4) AS BIGINT) AS n4
      |      FROM f)
      |SELECT * FROM (
      |  SELECT 0 AS stage, 'all' AS filter_name, n0 AS n_surviving,
      |    CAST(0 AS BIGINT) AS n_dropped FROM a
      |  UNION ALL SELECT 1, 'min_chars_200', n1, n0 - n1 FROM a
      |  UNION ALL SELECT 2, 'min_tokens_30', n2, n1 - n2 FROM a
      |  UNION ALL SELECT 3, 'target_lang', n3, n2 - n3 FROM a
      |  UNION ALL SELECT 4, 'lexical_diversity', n4, n3 - n4 FROM a)
      |ORDER BY stage""".stripMargin

  /** D6 — dialect-portable SQL: ONE query string executed VERBATIM by
    * both engines — `spark.sql` runs it over a registered view and the
    * oracle map hands DuckDB the IDENTICAL text. Stronger than D5
    * (which pairs a Spark-dialect string with a DuckDB-dialect twin):
    * this pins the shared ANSI surface — CTE, date_trunc, GROUP BY
    * ordinal, window LAG, exact-cent decimal arithmetic — a user can
    * lift-and-shift unchanged. */
  val sqlSharedText: String =
    """WITH m AS (SELECT
      |    CAST(date_trunc('month', CAST(o_orderdate AS DATE)) AS DATE) AS m,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT))
      |      AS BIGINT) AS cents
      |  FROM orders GROUP BY 1)
      |SELECT m, cents,
      |  CAST(coalesce(cents - lag(cents) OVER (ORDER BY m), 0) AS BIGINT)
      |    AS mom_delta
      |FROM m ORDER BY m""".stripMargin

  def sqlShared(s: SparkSession, dir: String): DataFrame = {
    Tables.orders(s, dir).createOrReplaceTempView("orders")
    s.sql(sqlSharedText)
  }

  /** D9 — RECURSIVE shared SQL (Spark 4 `WITH RECURSIVE`): ONE
    * recursive query string executed VERBATIM by spark.sql AND the
    * DuckDB oracle — the hierarchy walk (region → nation → customer
    * over a unified edge relation, one recursive arm) that needed an
    * engine-side iterative loop (Dedup.bfsHops) or a fixed-depth
    * oracle unroll (ccUnroll) before Spark grew a recursion operator.
    * Depth counters and per-level counts are exact integers; count(*)
    * lands as int64 on both engines, so the shared string needs no
    * per-dialect casts. */
  val sqlRecursiveText: String =
    """WITH RECURSIVE
      |e AS (SELECT 'R' || CAST(n_regionkey AS VARCHAR(20)) AS parent,
      |             'N' || CAST(n_nationkey AS VARCHAR(20)) AS child FROM nation
      |      UNION ALL
      |      SELECT 'N' || CAST(c_nationkey AS VARCHAR(20)),
      |             'C' || CAST(c_custkey AS VARCHAR(20)) FROM customer),
      |walk AS (SELECT 'R' || CAST(r_regionkey AS VARCHAR(20)) AS node,
      |                'R' || CAST(r_regionkey AS VARCHAR(20)) AS root, 0 AS depth
      |         FROM region
      |         UNION ALL
      |         SELECT e.child, w.root, w.depth + 1
      |         FROM e JOIN walk w ON e.parent = w.node)
      |SELECT root, depth, count(*) AS n_nodes, min(node) AS first_node
      |FROM walk GROUP BY root, depth ORDER BY root, depth""".stripMargin

  def sqlRecursive(s: SparkSession, dir: String): DataFrame = {
    Tables.region(s, dir).createOrReplaceTempView("region")
    Tables.nation(s, dir).createOrReplaceTempView("nation")
    Tables.customer(s, dir).createOrReplaceTempView("customer")
    s.sql(sqlRecursiveText)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_sql_shared" -> (sqlShared _),
    "q_sql_recursive" -> (sqlRecursive _),
    "q_filter_funnel" -> (filterFunnel _),
    "q_source_overlap" -> (sourceOverlap _),
    "q_novelty" -> (novelty _),
    "q_source_diversity" -> (sourceDiversity _),
    "q_domain_cap" -> ((s: SparkSession, d: String) => domainCap(s, d)),
    "q_dedup_canonical" -> (dedupCanonical _),
    "q_quantile_norm" -> (quantileNorm _),
    "q_keyset_page" -> ((s: SparkSession, d: String) => keysetPage(s, d)),
    "q_change_point" -> (changePoint _),
    "q_filtered_agg" -> (filteredAgg _),
    "q_sql_api" -> (sqlApi _),
    "q_lateral_topn" -> (lateralTopn _),
  )

  val oracle: Map[String, String] = Map(
    "q_sql_shared" -> sqlSharedText,
    "q_sql_recursive" -> sqlRecursiveText,
    "q_filter_funnel" -> filterFunnelSql,
    "q_source_overlap" -> sourceOverlapSql,
    "q_novelty" -> noveltySql,
    "q_source_diversity" -> sourceDiversitySql,
    "q_domain_cap" -> domainCapSql,
    "q_dedup_canonical" -> dedupCanonicalSql,
    "q_quantile_norm" -> quantileNormSql,
    "q_keyset_page" -> keysetPageSql,
    "q_change_point" -> changePointSql,
    "q_filtered_agg" -> filteredAggSql,
    "q_sql_api" -> sqlApiSql,
    "q_lateral_topn" -> lateralTopnSql,
  )
}
