package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped

/** Round-6 ML-preparation operators: RFM segmentation, stratified
  * three-way splits, and the feature-hashing trick. All
  * oracle-checked; conventions per ARCHITECTURE.md "Cross-engine
  * determinism" (integer/decimal accumulation, md5 coins, total
  * ORDER BY).
  */
object Featurize {

  /** B14 — RFM segmentation: each customer scored 1–5 on Recency
    * (days since last order), Frequency (order count), and Monetary
    * (exact lifetime cents), via explicit-ntile ranks over the
    * customer aggregate — the classic CRM / cohort feature.
    *
    * Quintile membership does NOT need per-customer rank joins: only
    * the 4 BUCKET-BOUNDARY rows per axis matter, and those are order
    * statistics — so ALL THREE axes run through ONE instance of the
    * shared bounded cut machinery ([[graft.operators.Ranked
    * .cutValues]]): each customer row explodes into three
    * (axis, value, key) rows, one range exchange partitions the
    * tagged relation by (axis, value, key), and the 12 quintile cuts
    * come back as one bounded relation (previously three independent
    * two-pass rank machineries — 3× the sampling jobs, persists, and
    * offset aggregates for the same 12 rows). A customer's bucket is
    * then 1 + #cuts strictly below it in the axis's total order — a
    * narrow higher-order projection over the persisted base, so no
    * customer-sized shuffle join anywhere. Keys are unique, so only
    * the cut row itself ever EQUALS a cut, and it counts exactly the
    * b−1 cuts below it. Empty tail buckets (n < 5) collapse cut ranks
    * onto existing rows; thresholds are NOT deduped, so the collapsed
    * cut appears once per bucket boundary — exactly ntile's 1..n
    * assignment. Quintile boundaries are pure integer arithmetic;
    * negated axes let one lexicographic struct order express every
    * "DESC, key ASC" rank. Each cut lands in a max(when(tname = b))
    * FIXED-SIZE aggregate buffer, so the broadcast build side is
    * provably bounded (PlanScan cannot see a filter's row bound; it
    * can see that max accumulates nothing). */
  def rfmSegments(s: SparkSession, dir: String): DataFrame = {
    val maxDate = "1998-12-31"
    val base = Tables.orders(s, dir)
      .groupBy(col("o_custkey"))
      .agg(
        datediff(lit(maxDate), max(to_date(col("o_orderdate")))).cast("bigint")
          .as("recency_days"),
        count(lit(1)).as("frequency"),
        sum((col("o_totalprice").cast("decimal(18,2)") * 100).cast("bigint"))
          .as("cents"))
      .withColumn("neg_frequency", -col("frequency"))
      .withColumn("neg_cents", -col("cents"))
      .persistScoped() // the tagged cut pass + the final bucket projection
    val tagged = base.select(col("o_custkey").as("k"),
      explode(array(
        struct(lit("r").as("axis"), col("recency_days").as("a")),
        struct(lit("f").as("axis"), col("neg_frequency").as("a")),
        struct(lit("m").as("axis"), col("neg_cents").as("a")))).as("x"))
      .select(col("x.axis"), col("x.a"), col("k"))
    // ntile cut rank of bucket boundary b over n rows, exact integers
    def cutRank(b: Int): Column = expr(
      s"""CASE WHEN $b <= tw % 5 THEN $b * (tw DIV 5 + 1)
         |ELSE (tw % 5) * (tw DIV 5 + 1) + ($b - tw % 5) * (tw DIV 5)
         |END""".stripMargin.replace("\n", " ")).cast("bigint")
    val cuts = graft.operators.Ranked.cutValuesByRank(tagged,
      Seq("axis"), Seq(col("a"), col("k")),
      struct(col("a"), col("k")),
      totals => totals.select(col("axis"),
          explode(array((1 to 4).map(b =>
            struct(lit(b).as("tname"), cutRank(b).as("t"))): _*)).as("x"))
        .select(col("axis"), col("x.tname"), col("x.t")),
      maxGroups = 3, cutsPerGroup = 4)
    // The cut relation is BOUNDED BY CONSTRUCTION (3 axes × 4 ntile
    // boundaries), so the former two aggregate stages + broadcast that
    // reshaped it into per-axis arrays collapse to a collect + literal
    // arrays in the final projection (§2.4 bounded-metadata collapse;
    // the same 12 (a, k) boundary structs, same order, null where a
    // boundary rank fell outside the group — identical to the former
    // max(when(...)) absorbing an absent row as null).
    val cutRows = graft.Bounded.collect(cuts
        .select(col("axis"), col("tname").cast("int").as("b"),
          col("cut_value.a").as("a"), col("cut_value.k").as("k")),
      12, "cut rows (3 axes × 4 boundaries) in the RFM cuts")
    val byAxis = cutRows.groupBy(_.getString(0))
    def cutArr(axis: String): Column = array((1 to 4).map { b =>
      byAxis.getOrElse(axis, Array.empty[org.apache.spark.sql.Row])
        .find(_.getInt(1) == b)
        .map(r => struct(lit(r.getLong(2)).as("a"), lit(r.getLong(3)).as("k")))
        .getOrElse(lit(null).cast("struct<a:bigint,k:bigint>"))
    }: _*)
    def bucket(cutsCol: Column, axis: Column): Column =
      lit(6) - (lit(1) + size(filter(cutsCol,
        c => c < struct(axis.as("a"), col("o_custkey").as("k")))).cast("int"))
    base
      .select(col("cents"),
        bucket(cutArr("r"), col("recency_days")).as("r_q"),
        bucket(cutArr("f"), col("neg_frequency")).as("f_q"),
        bucket(cutArr("m"), col("neg_cents")).as("m_q"))
      .groupBy(col("r_q"), col("f_q"), col("m_q"))
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("segment_cents"))
      .orderBy(col("r_q"), col("f_q"), col("m_q"))
  }

  val rfmSegmentsSql: String = {
    def ntile(k: Int) =
      s"""CAST(CASE WHEN rnk <= (n % $k) * (n // $k + 1)
         |  THEN (rnk + n // $k) // (n // $k + 1)
         |  ELSE (n % $k) + (rnk - (n % $k) * (n // $k + 1) + n // $k - 1)
         |       // (n // $k) END AS INT)""".stripMargin.replace("\n", " ")
    s"""WITH base AS (SELECT o_custkey,
      |    CAST(date_diff('day', max(CAST(o_orderdate AS DATE)),
      |      DATE '1998-12-31') AS BIGINT) AS recency_days,
      |    count(*) AS frequency,
      |    sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)) AS cents
      |  FROM orders GROUP BY o_custkey),
      |r AS (SELECT o_custkey, 6 - ${ntile(5)} AS r_q FROM (
      |    SELECT o_custkey, row_number() OVER (ORDER BY recency_days, o_custkey)
      |      AS rnk, count(*) OVER () AS n FROM base)),
      |f AS (SELECT o_custkey, 6 - ${ntile(5)} AS f_q FROM (
      |    SELECT o_custkey, row_number() OVER (ORDER BY frequency DESC, o_custkey)
      |      AS rnk, count(*) OVER () AS n FROM base)),
      |m AS (SELECT o_custkey, 6 - ${ntile(5)} AS m_q FROM (
      |    SELECT o_custkey, row_number() OVER (ORDER BY cents DESC, o_custkey)
      |      AS rnk, count(*) OVER () AS n FROM base))
      |SELECT r_q, f_q, m_q, count(*) AS n_customers,
      |  CAST(sum(cents) AS BIGINT) AS segment_cents
      |FROM base JOIN r USING (o_custkey) JOIN f USING (o_custkey)
      |  JOIN m USING (o_custkey)
      |GROUP BY 1, 2, 3 ORDER BY r_q, f_q, m_q""".stripMargin
  }

  /** C9 — stratified three-way split: every document deterministically
    * assigned to train/val/test by an md5 coin WITHIN its language
    * stratum (approximately 80/10/10 by hash range — reproducible
    * across runs, engines, and partitionings; no RNG state). Emits the
    * per-(stratum, split) audit a pipeline checks before training.
    * Pure map + one aggregate. */
  def threeWaySplit(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("lang"),
        // first 4 hex digits → 16 bits of uniform coin
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").as("coin"))
      .withColumn("split",
        when(col("coin") < 52429L, "train")        // 0.8 * 65536
          .when(col("coin") < 58982L, "val")       // 0.9 * 65536
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("lang"), col("split"))

  val threeWaySplitSql: String =
    """WITH c AS (SELECT lang,
      |    CAST(concat('0x', substring(md5(CAST(doc_id AS VARCHAR)), 1, 4))
      |      AS BIGINT) AS coin
      |  FROM documents)
      |SELECT lang,
      |  CASE WHEN coin < 52429 THEN 'train'
      |       WHEN coin < 58982 THEN 'val'
      |       ELSE 'test' END AS split,
      |  count(*) AS n_docs
      |FROM c GROUP BY 1, 2 ORDER BY lang, split""".stripMargin

  /** L10 — feature hashing (the hashing trick): terms folded into a
    * fixed 16-bucket signed-count vector per document — the
    * featurizer that needs no vocabulary broadcast at any corpus
    * size. Bucket and sign both derive from the term's md5, so the
    * vector is engine- and partitioning-independent; counts are exact
    * integers. Emitted long-form (doc, bucket, weight) — the sparse
    * representation a trainer consumes. */
  def featureHash(s: SparkSession, dir: String, buckets: Int = 16): DataFrame =
    Tables.widen(Tables.documents(s, dir))
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .select(col("doc_id"),
        (conv(substring(md5(col("term")), 1, 4), 16, 10).cast("long") % buckets)
          .cast("int").as("bucket"),
        when(conv(substring(md5(col("term")), 5, 1), 16, 10).cast("long") % 2 === 0,
          1L).otherwise(-1L).as("sgn"))
      .groupBy(col("doc_id"), col("bucket"))
      .agg(sum(col("sgn")).as("weight"))
      .filter(col("weight") =!= 0)
      .orderBy(col("doc_id"), col("bucket"))

  val featureHashSql: String =
    """WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
      |           FROM documents),
      |h AS (SELECT doc_id,
      |        CAST(CAST(concat('0x', substring(md5(term), 1, 4)) AS BIGINT) % 16
      |          AS INT) AS bucket,
      |        CASE WHEN CAST(concat('0x', substring(md5(term), 5, 1)) AS BIGINT)
      |               % 2 = 0
      |             THEN 1 ELSE -1 END AS sgn
      |      FROM t WHERE term <> '')
      |SELECT doc_id, bucket, CAST(sum(sgn) AS BIGINT) AS weight
      |FROM h GROUP BY 1, 2 HAVING sum(sgn) <> 0
      |ORDER BY doc_id, bucket""".stripMargin

  /** G19 — one-pass exact covariance matrix over the embedding corpus:
    * components quantized to integer thousandths (floor — the only
    * rounding mode identical across engines), so every cell's centered
    * numerator n·Σxy − Σx_i·Σx_j is an order-independent exact
    * integer. The buffer is d + d(d+1)/2 longs regardless of corpus
    * size — one partial/final aggregate, one corpus pass; the 2080
    * upper-triangle cells are the whole output. This is the
    * distributed half of PCA (the d×d eigen-solve is metadata-scale,
    * see [[graft.operators.Pca]]). */
  def pcaCov(s: SparkSession, dir: String): DataFrame = {
    val agg = udaf(new graft.operators.CovarianceMatrix(64))
    Tables.widen(Tables.embeddings(s, dir))
      .agg(agg(col("embedding")).as("cells"))
      .select(explode(col("cells")).as("c"))
      .select(col("c._1").as("i"), col("c._2").as("j"),
        col("c._3").as("n"), col("c._4").as("cov_num"))
      .orderBy(col("i"), col("j"))
  }

  val pcaCovSql: String =
    """WITH q AS (SELECT list_transform(embedding,
      |             x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS xq
      |           FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM q),
      |sx AS (SELECT i, CAST(sum(xq[i]) AS BIGINT) AS s
      |       FROM q, (SELECT unnest(range(1, 65)) AS i) GROUP BY i),
      |cells AS (SELECT i, j, CAST(sum(xq[i] * xq[j]) AS BIGINT) AS sxy
      |          FROM q, (SELECT unnest(range(1, 65)) AS i),
      |               (SELECT unnest(range(1, 65)) AS j)
      |          WHERE i <= j GROUP BY i, j)
      |SELECT CAST(c.i AS INT) AS i, CAST(c.j AS INT) AS j, nn.n AS n,
      |  CAST(nn.n * c.sxy - a.s * b.s AS BIGINT) AS cov_num
      |FROM cells c CROSS JOIN nn
      |JOIN sx a ON c.i = a.i JOIN sx b ON c.j = b.i
      |ORDER BY i, j""".stripMargin

  /** L15 — top-principal-component projection: the corpus-wide
    * covariance (the one distributed pass, [[pcaCov]]'s aggregate)
    * eigen-solved driver-side by deterministic power iteration
    * (fixed start, 50 iterations, no RNG — the 2080-cell collect is
    * metadata-scale by construction, the same place IVF pins its
    * centroids), then every embedding scored against the broadcast
    * component in one codegen'd dot product. No oracle: the
    * eigenvector chain is not SQL-expressible; PcaSpec asserts
    * variance dominance over every coordinate axis and partitioning
    * invariance. */
  def pcaProject(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    val cov = graft.Bounded.collect(pcaCov(s, dir), 64 * 65 / 2, "cells (i ≤ j) in the PCA covariance")
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(3).toDouble))
    val v = graft.operators.Pca.topComponent(64, cov.toSeq)
    val vf = typedLit(v.map(_.toFloat).toSeq)
    Tables.embeddings(s, dir)
      .select(col("vec_id"),
        round(call_function("dot_f32", col("embedding"), vf), 4).as("pc1"))
      .orderBy(col("vec_id"))
  }

  /** C10 — per-dimension embedding standardization: each component
    * z-scored against its dimension's corpus statistics — the feature
    * normalization every vector model trains on. Components quantize
    * to integer thousandths (floor), so per-dim n, Σx, Σx² are exact
    * integers and z = (n·x − Σx)/√(n·Σx² − (Σx)²) is ONE fixed IEEE
    * chain from exact inputs — bit-portable, no rounding absorber.
    * Long-form output (vec, dim, z): the narrow explode streams, the
    * 64-row stats table broadcasts back. Constant dimensions emit 0
    * (both engines, same CASE). */
  def embeddingStandardize(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.widen(Tables.embeddings(s, dir))
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("vec_id"), (col("pos") + 1).cast("int").as("d"),
        floor(col("x").cast("double") * 1000).cast("bigint").as("xq"))
    val st = e.groupBy(col("d")).agg(count(lit(1)).as("n"),
      sum(col("xq")).as("sx"), sum(col("xq") * col("xq")).as("sxx"))
    e.join(broadcast(st), Seq("d"))
      .select(col("vec_id"), col("d"),
        when(col("n") * col("sxx") - col("sx") * col("sx") === 0, lit(0.0))
          .otherwise((col("n") * col("xq") - col("sx")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double")))
          .as("z"))
      .orderBy(col("vec_id"), col("d"))
  }

  val embeddingStandardizeSql: String =
    """WITH e AS (SELECT vec_id, CAST(d AS INT) AS d,
      |    CAST(floor(CAST(embedding[d] AS DOUBLE) * 1000) AS BIGINT) AS xq
      |  FROM embeddings, (SELECT unnest(range(1, 65)) AS d)),
      |st AS (SELECT d, count(*) AS n, CAST(sum(xq) AS BIGINT) AS sx,
      |         CAST(sum(xq * xq) AS BIGINT) AS sxx
      |       FROM e GROUP BY d)
      |SELECT vec_id, e.d,
      |  CASE WHEN n * sxx - sx * sx = 0 THEN 0.0
      |       ELSE CAST(n * xq - sx AS DOUBLE) /
      |            sqrt(CAST(n * sxx - sx * sx AS DOUBLE)) END AS z
      |FROM e JOIN st ON e.d = st.d
      |ORDER BY vec_id, e.d""".stripMargin

  /** L25 — embedding truncation-fidelity (Matryoshka) audit: how much
    * cosine similarity distorts when vectors are truncated to their
    * first d dimensions (d ∈ {8, 16, 32} vs the full 64) — the
    * measurement behind "can we serve 4× cheaper vectors?". Pairs are
    * the deterministic consecutive-id chain (vec_id, vec_id+1): one
    * narrow equi self-join, |pairs| = n−1, no pair explosion; at
    * 100 TB the same audit runs on any linear or blocked pair stream.
    * Per (pair, d): cosine over the d-prefix via the shared
    * left-to-right double dot (oracle-safe bit-identical, see
    * operators/Similarity), error vs the full cosine FLOORED to 1e-9
    * units (exact int64), so mean and max are exact integer aggregates
    * with one final double division each. Zero-norm prefixes are
    * excluded on both engines (no NaN propagation). */
  def truncationFidelity(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    import graft.functions.GraftFunctions.dotF32
    val emb = Tables.embeddings(s, dir)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id"), col("embedding"))
    val pairs = emb.select(col("vec_id").as("ida"), col("embedding").as("ea"))
      .join(emb.select((col("vec_id") - 1).as("ida"),
        col("embedding").as("eb")), Seq("ida"))
    def cosOn(a: Column, b: Column): Column =
      dotF32(a, b) / (sqrt(dotF32(a, a)) * sqrt(dotF32(b, b)))
    val long = pairs
      .withColumn("c_full", cosOn(col("ea"), col("eb")))
      .withColumn("d", explode(array(lit(8), lit(16), lit(32))))
      .withColumn("pa", expr("slice(ea, 1, d)"))
      .withColumn("pb", expr("slice(eb, 1, d)"))
      .filter(dotF32(col("pa"), col("pa")) > 0 &&
        dotF32(col("pb"), col("pb")) > 0)
      .withColumn("err_q",
        floor(abs(cosOn(col("pa"), col("pb")) - col("c_full")) * 1e9)
          .cast("bigint"))
    long.groupBy(col("d"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("err_q")).as("se"), max(col("err_q")).as("mx"))
      .select(col("d"), col("n_pairs"),
        (col("se").cast("double") / col("n_pairs") / 1e9).as("mean_abs_err"),
        (col("mx").cast("double") / 1e9).as("max_abs_err"))
      .orderBy(col("d"))
  }

  val truncationFidelitySql: String =
    """WITH v AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS e
      |           FROM embeddings WHERE embedding IS NOT NULL),
      |p AS (SELECT a.e AS ea, b.e AS eb,
      |        list_dot_product(a.e, b.e)
      |          / (sqrt(list_dot_product(a.e, a.e))
      |             * sqrt(list_dot_product(b.e, b.e))) AS c_full
      |      FROM v a JOIN v b ON b.vec_id = a.vec_id + 1),
      |l AS (SELECT d, ea[1:d] AS pa, eb[1:d] AS pb, c_full
      |      FROM p, (SELECT unnest([8, 16, 32]) AS d)),
      |q AS (SELECT d,
      |        CAST(floor(abs(list_dot_product(pa, pb)
      |          / (sqrt(list_dot_product(pa, pa))
      |             * sqrt(list_dot_product(pb, pb))) - c_full) * 1e9)
      |          AS BIGINT) AS err_q
      |      FROM l
      |      WHERE list_dot_product(pa, pa) > 0
      |        AND list_dot_product(pb, pb) > 0)
      |SELECT d, CAST(count(*) AS BIGINT) AS n_pairs,
      |  CAST(CAST(sum(err_q) AS BIGINT) AS DOUBLE) / count(*) / 1e9
      |    AS mean_abs_err,
      |  CAST(max(err_q) AS DOUBLE) / 1e9 AS max_abs_err
      |FROM q GROUP BY d ORDER BY d""".stripMargin

  /** C16 — Neyman optimal allocation: how to split a fixed sample
    * budget across strata so the stratified estimator's variance is
    * MINIMAL — n_h ∝ N_h·σ_h (big AND volatile strata get more),
    * side by side with the proportional n_h ∝ N_h a naive design
    * uses. The sampling-design layer on top of the executors (C3
    * draws a sample; this decides how much to draw where). Shape:
    * one keyed aggregate collapses the corpus to the bounded stratum
    * table (count + exact moment sums); σ_h = √(N·Σx²−S²)/N uses
    * only IEEE correctly-rounded ops (×,/,√ — no libm), and the
    * weights are floor-quantized to integer micro-units so their SUM
    * is order-free exact; integerization is largest-remainder with
    * ties to the first stratum — deterministic end to end. */
  def neymanAlloc(s: SparkSession, dir: String, budget: Int = 1000): DataFrame = {
    val strata = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("stratum"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("decimal(38,0)").as("cents"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).cast("decimal(38,0)").as("nh"),
        sum(col("cents")).as("sx"),
        sum(col("cents") * col("cents")).as("sxx"))
      // weight in exact micro-units: floor(N_h·σ_h·1e6) — the only
      // double step (√) is IEEE-pinned, and quantizing BEFORE the
      // total keeps the share denominators order-free integers
      .withColumn("sd", sqrt((col("nh") * col("sxx") - col("sx") * col("sx"))
        .cast("double")) / col("nh").cast("double"))
      .withColumn("wq", floor(col("nh").cast("double") * col("sd") * 1e6)
        .cast("decimal(38,0)"))
    def allocate(df: DataFrame, weight: Column, outCol: String): DataFrame = {
      val wAll = Window.partitionBy(lit(1))
      val wRank = Window.partitionBy(lit(1))
        .orderBy(col("rem").desc, col("stratum"))
      df.withColumn("w", weight)
        .withColumn("quota",
          lit(budget) * col("w").cast("double") /
            sum(col("w")).over(wAll).cast("double"))
        .withColumn("base", floor(col("quota")).cast("long"))
        .withColumn("rem", col("quota") - col("base"))
        .withColumn("defect", lit(budget) - sum(col("base")).over(wAll))
        .withColumn("rk", row_number().over(wRank))
        .withColumn(outCol,
          col("base") + when(col("rk") <= col("defect"), 1L).otherwise(0L))
        .drop("w", "quota", "base", "rem", "defect", "rk")
    }
    val ney = allocate(strata, col("wq"), "neyman_n")
    val both = allocate(ney, col("nh"), "proportional_n")
    both.select(col("stratum"), col("nh").cast("long").as("n_rows"),
        round(col("sd") / 100, 4).as("sd_price"),
        col("neyman_n"), col("proportional_n"))
      .orderBy(col("stratum"))
  }

  val neymanAllocSql: String =
    """WITH strata AS (SELECT o_orderpriority AS stratum,
      |    count(*) AS nh,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |      AS HUGEINT) AS sx,
      |    CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT)
      |      * CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS HUGEINT))
      |      AS HUGEINT) AS sxx
      |  FROM orders GROUP BY 1),
      |sd AS (SELECT stratum, nh,
      |    sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)) / CAST(nh AS DOUBLE) AS sd,
      |    CAST(floor(CAST(nh AS DOUBLE)
      |      * (sqrt(CAST(nh * sxx - sx * sx AS DOUBLE)) / CAST(nh AS DOUBLE))
      |      * 1e6) AS HUGEINT) AS wq
      |  FROM strata),
      |ney AS (SELECT *,
      |    1000 * CAST(wq AS DOUBLE) / CAST(sum(wq) OVER () AS DOUBLE) AS quota
      |  FROM sd),
      |ney2 AS (SELECT *, CAST(floor(quota) AS BIGINT) AS base,
      |    quota - floor(quota) AS rem FROM ney),
      |ney3 AS (SELECT *, 1000 - sum(base) OVER () AS defect,
      |    row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM ney2),
      |ney4 AS (SELECT stratum, nh, sd,
      |    base + CASE WHEN rk <= defect THEN 1 ELSE 0 END AS neyman_n
      |  FROM ney3),
      |p AS (SELECT *,
      |    1000 * CAST(nh AS DOUBLE) / CAST(sum(nh) OVER () AS DOUBLE) AS quota
      |  FROM ney4),
      |p2 AS (SELECT *, CAST(floor(quota) AS BIGINT) AS base,
      |    quota - floor(quota) AS rem FROM p),
      |p3 AS (SELECT *, 1000 - sum(base) OVER () AS defect,
      |    row_number() OVER (ORDER BY rem DESC, stratum) AS rk FROM p2)
      |SELECT stratum, CAST(nh AS BIGINT) AS n_rows,
      |  round(sd / 100, 4) AS sd_price,
      |  CAST(neyman_n AS BIGINT) AS neyman_n,
      |  CAST(base + CASE WHEN rk <= defect THEN 1 ELSE 0 END AS BIGINT)
      |    AS proportional_n
      |FROM p3 ORDER BY stratum""".stripMargin

  /** C17 — quantized Lloyd k-means: the unsupervised companion to the
    * label-keyed centroids (G6/G6b) — seed k=8 centroids from the
    * first k vectors, run `rounds` assign→update iterations, and emit
    * per-cluster size, inertia, and label purity (the fixture labels
    * score the clustering without steering it). Exactness: every
    * vector quantizes to integer micro-units ONCE (the G6b fp
    * convention), distances are exact integer Σ(aᵢ−bᵢ)² inside one
    * codegen'd zip_with/aggregate (no UDF), ties break (distance,
    * centroid id), and the centroid update is floor(Σ/n) — so every
    * round is bit-identical on any engine and any partitioning. Scale
    * shape: centroids are a k-row broadcast (one fact scan per
    * round, never a vec×vec pair); the update is one keyed aggregate
    * over (cluster, dim); localCheckpoint truncates the per-round
    * lineage exactly like the CC fixpoint. Sums here fit a long
    * (|fp| ≤ 2²⁰, rows ≤ 2³³ before overflow risk); a 100 TB corpus
    * would widen the update sums to decimal(38,0). */
  def kmeansLloyd(s: SparkSession, dir: String, k: Int = 8,
                  rounds: Int = 2): DataFrame = {
    val vecs = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> " +
          "CAST(floor(CAST(x AS DOUBLE) * 1000000.0D) AS BIGINT))").as("v"))
      .persistScoped() // one read per round + the final assignment
    // Centroids are BOUNDED METADATA (k × dims longs — 512 values
    // here), so they live on the driver and are inlined as literals
    // each round (the operators/Ranked convention): assignment becomes
    // ONE narrow codegen'd projection — no crossJoin, no shuffle of
    // the vector arrays, no broadcast subtree to re-execute.
    var cents: Seq[(Int, Seq[Long])] = graft.Bounded.collect(
        vecs.filter(col("vec_id") < k).select(col("vec_id").cast("int"), col("v")),
        k, "seed centroids (vec_id < k) in k-means").toSeq
      .map(r => (r.getInt(0), r.getSeq[Long](1)))
      .sortBy(_._1)
    // empty corpus → no seeds → an empty centroid literal would type
    // as array<void>; emit the typed empty result instead
    if (cents.isEmpty)
      return vecs.limit(0)
        .select(lit(0L).as("cluster_id"), lit(0L).as("n_vecs"),
          lit(0.0).as("inertia"), lit(0L).as("majority_label"),
          lit(0.0).as("purity"))
    def centLit = array(cents.map { case (cid, c) =>
      struct(lit(cid).as("cid"), array(c.map(lit): _*).as("c")) }: _*)
    // argmin over the inlined centroids: distances are exact integer
    // Σ(aᵢ−bᵢ)², ties break (d, cid) via array_min's struct ordering
    def dc = array_min(transform(centLit, s =>
      struct(aggregate(zip_with(col("v"), s.getField("c"),
          (a, b) => (a - b) * (a - b)),
        lit(0L), (acc, x) => acc + x).as("d"),
        s.getField("cid").as("cid"))))
    (1 to rounds).foreach { _ =>
      cents = graft.Bounded.collect(vecs.select(dc.getField("cid").as("cid"), col("v"))
          .select(col("cid"), posexplode(col("v")))
          .groupBy(col("cid"), col("pos"))
          .agg(floor(sum(col("col")).cast("double") / count(lit(1)))
            .cast("bigint").as("cv")),
          cents.length * cents.map(_._2.length).max,
          "centroid cells (k × dims) in a k-means round").toSeq
        .groupBy(_.getInt(0))
        .map { case (cid, rows) =>
          (cid, rows.sortBy(_.getInt(1)).map(_.getLong(2))) }
        .toSeq.sortBy(_._1)
    }
    val fin = vecs
      .select(dc.getField("cid").as("cluster_id"),
        dc.getField("d").as("d"), col("label"))
      .persistScoped() // size/inertia + purity both read it
    val sizes = fin.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_vecs"), sum(col("d")).as("iq"))
    val purity = fin.groupBy(col("cluster_id"), col("label"))
      .agg(count(lit(1)).as("nl"))
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("nl"), (-col("label")).as("neg"))).as("ml"))
      .select(col("cluster_id"), (-col("ml.neg")).cast("long").as("majority_label"),
        col("ml.nl").as("n_majority"))
    sizes.join(purity, Seq("cluster_id"))
      .select(col("cluster_id").cast("long").as("cluster_id"),
        col("n_vecs"),
        round(col("iq").cast("double") / 1e12, 4).as("inertia"),
        col("majority_label"),
        round(col("n_majority").cast("double") / col("n_vecs").cast("double"), 4)
          .as("purity"))
      .orderBy(col("cluster_id"))
  }

  val kmeansLloydSql: String = {
    def assignUpdate(i: Int): String =
      s"""d$i AS MATERIALIZED (SELECT vd.vec_id,
         |    c.cid, CAST(sum((vd.fp - c.cv) * (vd.fp - c.cv)) AS BIGINT) AS d
         |  FROM vd JOIN c${i - 1} c ON vd.dim = c.dim
         |  GROUP BY vd.vec_id, c.cid),
         |a$i AS MATERIALIZED (SELECT vec_id, cid FROM (
         |    SELECT vec_id, cid,
         |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
         |    FROM d$i) WHERE rn = 1),
         |c$i AS MATERIALIZED (SELECT a$i.cid, vd.dim,
         |    CAST(floor(CAST(sum(vd.fp) AS DOUBLE) / count(*)) AS BIGINT) AS cv
         |  FROM a$i JOIN vd USING (vec_id) GROUP BY a$i.cid, vd.dim)"""
        .stripMargin
    s"""WITH v AS MATERIALIZED (SELECT vec_id, label,
      |    list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS v
      |  FROM embeddings),
      |vd AS MATERIALIZED (SELECT vec_id, unnest(range(64)) AS dim,
      |    unnest(v) AS fp FROM v),
      |c0 AS MATERIALIZED (SELECT CAST(vec_id AS INT) AS cid, dim, fp AS cv
      |  FROM vd WHERE vec_id < 8),
      |${assignUpdate(1)},
      |${assignUpdate(2)},
      |df AS MATERIALIZED (SELECT vd.vec_id, c.cid,
      |    CAST(sum((vd.fp - c.cv) * (vd.fp - c.cv)) AS BIGINT) AS d
      |  FROM vd JOIN c2 c ON vd.dim = c.dim
      |  GROUP BY vd.vec_id, c.cid),
      |af AS MATERIALIZED (SELECT vec_id, cid, d FROM (
      |    SELECT vec_id, cid, d,
      |      row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
      |    FROM df) WHERE rn = 1),
      |fin AS (SELECT af.cid AS cluster_id, af.d, v.label
      |        FROM af JOIN v USING (vec_id)),
      |sz AS (SELECT cluster_id, count(*) AS n_vecs,
      |         CAST(sum(d) AS BIGINT) AS iq
      |       FROM fin GROUP BY cluster_id),
      |pu AS (SELECT cluster_id, label AS majority_label, nl FROM (
      |         SELECT cluster_id, label, count(*) AS nl,
      |           row_number() OVER (PARTITION BY cluster_id
      |             ORDER BY count(*) DESC, label) AS rn
      |         FROM fin GROUP BY cluster_id, label) WHERE rn = 1)
      |SELECT CAST(sz.cluster_id AS BIGINT) AS cluster_id,
      |  CAST(n_vecs AS BIGINT) AS n_vecs,
      |  round(CAST(iq AS DOUBLE) / 1e12, 4) AS inertia,
      |  CAST(majority_label AS BIGINT) AS majority_label,
      |  round(CAST(nl AS DOUBLE) / CAST(n_vecs AS DOUBLE), 4) AS purity
      |FROM sz JOIN pu USING (cluster_id)
      |ORDER BY cluster_id""".stripMargin
  }

  /** C19 — keyspace-systematic sampling + its periodicity audit:
    * every k-th KEY (o_orderkey % 40 = 7) instead of every k-th ROW —
    * the scale-correct form of systematic sampling, because it is a
    * pure parallel filter (the classic row-interval form needs a
    * global sort + row_number, a single-partition window at any
    * corpus size). The audit half is what a statistician checks before
    * trusting a systematic design: per stratum (order priority), the
    * achieved sampling ratio and the sample-vs-population mean — a
    * periodic key↔attribute correlation would show here as a ratio or
    * mean skew. Exact arithmetic: counts and cent sums are integers;
    * means use integer DIV (nonneg, floor≡trunc); the ratio is one
    * rounded division. */
  def systematicSample(s: SparkSession, dir: String, k: Int = 40,
                       offset: Int = 7): DataFrame = {
    val base = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("prio"),
        (col("o_totalprice").cast("decimal(18,2)") * 100)
          .cast("bigint").as("cents"),
        (col("o_orderkey") % k === offset).as("in_sample"))
    base.groupBy(col("prio"))
      .agg(count(lit(1)).as("n_pop"),
        sum(when(col("in_sample"), 1L).otherwise(0L)).as("n_samp"),
        sum(col("cents")).as("sum_pop"),
        sum(when(col("in_sample"), col("cents")).otherwise(0L)).as("sum_samp"))
      .select(col("prio"), col("n_pop"), col("n_samp"),
        round(col("n_samp").cast("double") / col("n_pop").cast("double"), 6)
          .as("sample_ratio"),
        expr("sum_pop DIV n_pop").as("mean_pop_cents"),
        when(col("n_samp") === 0, lit(0L))
          .otherwise(expr("sum_samp DIV n_samp")).as("mean_samp_cents"))
      .orderBy(col("prio"))
  }

  val systematicSampleSql: String =
    """SELECT prio, n_pop, n_samp,
      |  round(CAST(n_samp AS DOUBLE) / CAST(n_pop AS DOUBLE), 6)
      |    AS sample_ratio,
      |  CAST(sum_pop // n_pop AS BIGINT) AS mean_pop_cents,
      |  CAST(CASE WHEN n_samp = 0 THEN 0
      |       ELSE sum_samp // n_samp END AS BIGINT) AS mean_samp_cents
      |FROM (SELECT o_orderpriority AS prio, count(*) AS n_pop,
      |        CAST(sum(CASE WHEN o_orderkey % 40 = 7 THEN 1 ELSE 0 END)
      |          AS BIGINT) AS n_samp,
      |        CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
      |          AS BIGINT)) AS BIGINT) AS sum_pop,
      |        CAST(sum(CASE WHEN o_orderkey % 40 = 7
      |          THEN CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
      |          ELSE 0 END) AS BIGINT) AS sum_samp
      |      FROM orders GROUP BY 1)
      |ORDER BY prio""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_systematic_sample" -> ((s: SparkSession, d: String) => systematicSample(s, d)),
    "q_kmeans_lloyd" -> ((s: SparkSession, d: String) => kmeansLloyd(s, d)),
    "q_neyman_alloc" -> ((s: SparkSession, d: String) => neymanAlloc(s, d)),
    "q_truncation_fidelity" -> (truncationFidelity _),
    "q_embedding_standardize" -> (embeddingStandardize _),
    "q_pca_cov" -> (pcaCov _),
    "q_pca_project" -> (pcaProject _),
    "q_rfm_segments" -> (rfmSegments _),
    "q_three_way_split" -> (threeWaySplit _),
    "q_feature_hash" -> ((s: SparkSession, d: String) => featureHash(s, d)),
  )

  val oracle: Map[String, String] = Map(
    "q_systematic_sample" -> systematicSampleSql,
    "q_neyman_alloc" -> neymanAllocSql,
    "q_kmeans_lloyd" -> kmeansLloydSql,
    "q_truncation_fidelity" -> truncationFidelitySql,
    "q_embedding_standardize" -> embeddingStandardizeSql,
    "q_pca_cov" -> pcaCovSql,
    "q_rfm_segments" -> rfmSegmentsSql,
    "q_three_way_split" -> threeWaySplitSql,
    "q_feature_hash" -> featureHashSql,
  )
}
