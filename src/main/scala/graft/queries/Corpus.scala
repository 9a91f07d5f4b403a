package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.Dedup
import graft.Caches.PersistScoped

/** Round-7 corpus-audit operators: the measurement layer a training-
  * data pipeline runs NEXT TO its dedup/curation passes — how good is
  * the sketch (MinHash estimation error), how is the corpus shaped
  * (Zipf slope, per-source KL divergence, duplicate-family sizes), and
  * does the near-dup graph leak across train/val/test. All
  * oracle-checked; float conventions per ARCHITECTURE.md "Cross-engine
  * determinism" — order-dependent ln-sums are quantized to fixed-point
  * integers BEFORE summation, so every aggregate is exact and only a
  * final division is float.
  */
object Corpus {

  /** L2n — MinHash estimation-error audit: for every LSH candidate
    * pair, the signature-agreement estimate p/16 next to the exact
    * shingle Jaccard and their signed error — the operator that tells
    * you whether 16 hashes are enough for YOUR corpus before trusting
    * the sketch at 100 TB (E[est] = J; spread shrinks as 1/√k).
    * Signature and shingle set come from ONE fused digest pass
    * (Dedup.shingleProfiles) — the corpus is md5'd once; the exact
    * intersection runs only on collision-proposed pairs, never
    * all-pairs. est is p/16 (exact dyadic), exact_j one int/int IEEE
    * division, err one subtraction — all bit-portable. */
  def minhashError(s: SparkSession, dir: String): DataFrame = {
    val prof = ShingleStage.profiles(s, dir)
      .persistScoped() // staged once per process; cached per query for its readers
    val cands = Dedup.minhashCandidates(prof.select(col("doc_id"), col("sig")), 4)
    val pa = prof.select(col("doc_id").as("doc_id_a"),
      col("hs").as("ha"), col("sig").as("sa"))
    val pb = prof.select(col("doc_id").as("doc_id_b"),
      col("hs").as("hb"), col("sig").as("sb"))
    // The 16-slot agreement count is UNROLLED into plain comparisons:
    // the higher-order aggregate(zip_with(...)) formulation falls out
    // of whole-stage codegen (interpreted lambda per pair × slot) and
    // cost ~15× the unrolled form on the candidate stream.
    val agreement = (0 until 16)
      .map(j => (element_at(col("sa"), j + 1) === element_at(col("sb"), j + 1))
        .cast("int"))
      .reduce(_ + _)
    cands.join(pa, Seq("doc_id_a")).join(pb, Seq("doc_id_b"))
      .select(col("doc_id_a"), col("doc_id_b"),
        agreement.as("p"),
        size(array_intersect(col("ha"), col("hb"))).as("i"),
        size(col("ha")).as("na"), size(col("hb")).as("nb"))
      .select(col("doc_id_a"), col("doc_id_b"),
        (col("p").cast("double") / 16).as("est"),
        (col("i").cast("double") / (col("na") + col("nb") - col("i")))
          .as("exact_j"))
      .withColumn("err", col("est") - col("exact_j"))
      .orderBy(col("doc_id_a"), col("doc_id_b"))
  }

  val minhashErrorSql: String =
    s"""${Llm.shingleCte},
      |hh AS (SELECT doc_id,
      |         CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(concat('0x', substring(md5(shingle), 17, 14)) AS BIGINT) AS h2
      |       FROM sh),
      |hs AS (SELECT doc_id, j, min(h1 + j * h2) AS mh
      |       FROM hh, (SELECT unnest(range(0, 16)) AS j) GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, j // 4 AS band,
      |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_sig
      |          FROM hs GROUP BY doc_id, j // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.band_sig = b.band_sig
      |           AND a.doc_id < b.doc_id),
      |agree AS (SELECT c.da, c.db,
      |            sum(CASE WHEN x.mh = y.mh THEN 1 ELSE 0 END) AS p
      |          FROM cand c
      |          JOIN hs x ON x.doc_id = c.da
      |          JOIN hs y ON y.doc_id = c.db AND y.j = x.j
      |          GROUP BY c.da, c.db),
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2)
      |SELECT g.da AS doc_id_a, g.db AS doc_id_b,
      |  CAST(p AS DOUBLE) / 16 AS est,
      |  CAST(coalesce(i.i, 0) AS DOUBLE)
      |    / (sa.n_sh + sb.n_sh - coalesce(i.i, 0)) AS exact_j,
      |  CAST(p AS DOUBLE) / 16 - CAST(coalesce(i.i, 0) AS DOUBLE)
      |    / (sa.n_sh + sb.n_sh - coalesce(i.i, 0)) AS err
      |FROM agree g
      |LEFT JOIN inter i ON i.da = g.da AND i.db = g.db
      |JOIN sz sa ON g.da = sa.doc_id JOIN sz sb ON g.db = sb.doc_id
      |ORDER BY doc_id_a, doc_id_b""".stripMargin

  /** L4p — Zipf rank-frequency slope: OLS of ln(freq) on ln(rank) over
    * the top-100 terms — natural corpora fit slope ≈ −1; a synthetic
    * or templated corpus shows up immediately as a flat or convex
    * curve (the cheapest "is this text distribution natural" audit).
    * ln values are quantized to 1e-6 fixed point BEFORE the moment
    * sums, so Σx/Σy/Σxy/Σxx are exact int64 and the slope is one
    * integer-ratio division — no float summation order anywhere. The
    * term aggregate is corpus-wide and partial-combining; only the
    * bounded 100-row top-k relation is ever windowed. */
  def zipfSlope(s: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(s, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("term")).limit(100)
    val ranked = freq
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("freq").desc, col("term")))) // bounded: 100 rows
      .select(
        expr("CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT)").as("xq"),
        expr("CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT)").as("yq"))
    ranked.agg(count(lit(1)).as("n"), sum(col("xq")).as("sx"),
        sum(col("yq")).as("sy"), sum(col("xq") * col("yq")).as("sxy"),
        sum(col("xq") * col("xq")).as("sxx"))
      .select(col("n").as("n_terms"),
        expr("CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)")
          .as("slope"),
        expr("(CAST(sy AS DOUBLE) / 1e6 - (CAST(n * sxy - sx * sy AS DOUBLE) " +
          "/ CAST(n * sxx - sx * sx AS DOUBLE)) * (CAST(sx AS DOUBLE) / 1e6)) " +
          "/ CAST(n AS DOUBLE)").as("intercept"))
  }

  val zipfSlopeSql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |f AS (SELECT term, count(*) AS freq FROM toks WHERE term <> ''
      |      GROUP BY term ORDER BY freq DESC, term LIMIT 100),
      |r AS (SELECT freq, row_number() OVER (ORDER BY freq DESC, term) AS rnk
      |      FROM f),
      |q AS (SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS xq,
      |             CAST(floor(ln(CAST(freq AS DOUBLE)) * 1e6) AS BIGINT) AS yq
      |      FROM r),
      |m AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(xq) AS BIGINT) AS sx,
      |             CAST(sum(yq) AS BIGINT) AS sy,
      |             CAST(sum(xq * yq) AS BIGINT) AS sxy,
      |             CAST(sum(xq * xq) AS BIGINT) AS sxx
      |      FROM q)
      |SELECT n AS n_terms,
      |  CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE)
      |    AS slope,
      |  (CAST(sy AS DOUBLE) / 1e6 - (CAST(n * sxy - sx * sy AS DOUBLE)
      |    / CAST(n * sxx - sx * sx AS DOUBLE)) * (CAST(sx AS DOUBLE) / 1e6))
      |    / CAST(n AS DOUBLE) AS intercept
      |FROM m""".stripMargin

  /** L4q — per-source KL divergence: KL(P_source ‖ P_corpus) over
    * unigram distributions — the training-mix audit that scores how
    * far each source's language drifts from the blend (a high-KL
    * source either carries unique signal or is noise; either way it
    * needs a human look before reweighting). Per-(source, term)
    * contributions are computed from exact counts, quantized to 1e-9
    * fixed point, and integer-summed — the ln-sum is order-free. Two
    * term-keyed aggregates + one broadcast of per-source totals; no
    * all-pairs anything. */
  def klSources(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val st = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n_st")).persistScoped() // corpus re-agg + the join
    val ct = st.groupBy(col("term")).agg(sum(col("n_st")).as("n_ct"))
    val totS = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_s"))
    val totC = st.agg(sum(col("n_st")).as("n_c"))
    st.join(ct, Seq("term"))
      .join(broadcast(totS), Seq("source"))
      .crossJoin(broadcast(totC))
      .select(col("source"), col("n_s"),
        expr("CAST(floor((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)) * " +
          "ln((CAST(n_st AS DOUBLE) * CAST(n_c AS DOUBLE)) / " +
          "(CAST(n_s AS DOUBLE) * CAST(n_ct AS DOUBLE))) * 1e9) AS BIGINT)")
          .as("cq"))
      .groupBy(col("source"), col("n_s"))
      .agg(sum(col("cq")).as("kl_q"))
      .select(col("source"), col("n_s").as("n_tokens"),
        (col("kl_q").cast("double") / 1e9).as("kl"))
      .orderBy(col("source"))
  }

  val klSourcesSql: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |st AS (SELECT source, term, count(*) AS n_st FROM toks
      |       WHERE term <> '' GROUP BY source, term),
      |ct AS (SELECT term, CAST(sum(n_st) AS BIGINT) AS n_ct FROM st GROUP BY term),
      |ts AS (SELECT source, CAST(sum(n_st) AS BIGINT) AS n_s FROM st GROUP BY source),
      |tc AS (SELECT CAST(sum(n_st) AS BIGINT) AS n_c FROM st),
      |c AS (SELECT st.source, ts.n_s,
      |        CAST(floor((CAST(n_st AS DOUBLE) / CAST(n_s AS DOUBLE)) *
      |          ln((CAST(n_st AS DOUBLE) * CAST(n_c AS DOUBLE)) /
      |          (CAST(n_s AS DOUBLE) * CAST(n_ct AS DOUBLE))) * 1e9) AS BIGINT)
      |          AS cq
      |      FROM st JOIN ct ON st.term = ct.term
      |      JOIN ts ON st.source = ts.source CROSS JOIN tc)
      |SELECT source, n_s AS n_tokens,
      |  CAST(CAST(sum(cq) AS BIGINT) AS DOUBLE) / 1e9 AS kl
      |FROM c GROUP BY source, n_s ORDER BY source""".stripMargin

  /** L2o — duplicate-family size distribution: how many near-dup
    * clusters have 2, 3, … members — the histogram that decides the
    * dedup POLICY (a corpus of pair-dups dedups cheaply; heavy tails
    * mean template families worth a dedicated rule). Reuses the
    * checked-fixpoint CC labels; two keyed aggregates on top. */
  def clusterSizes(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupClusters(
        Dedup.jaccardFromOverlap(ShingleStage.overlap3(s, dir), 0.6)
          .select(col("doc_id_a"), col("doc_id_b")))
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy(col("sz").cast("bigint").as("cluster_size"))
      .agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  val clusterSizesSql: String =
    s"""${Llm.shingleCte},
      |${Llm.strongPairsCte()},
      |${Llm.ccUnroll()},
      |cs AS (SELECT label AS cluster_id, count(*) AS sz FROM l8 GROUP BY label)
      |SELECT CAST(sz AS BIGINT) AS cluster_size,
      |  CAST(count(*) AS BIGINT) AS n_clusters
      |FROM cs GROUP BY sz ORDER BY cluster_size""".stripMargin

  /** L2p — train/val/test near-dup leakage: near-duplicate pairs
    * (exact Jaccard ≥ 0.6) classified by which splits their endpoints
    * landed in under the SAME deterministic 80/10/10 md5 coin as
    * q_three_way_split — the audit that catches eval contamination
    * BEFORE training (a test doc whose near-twin sits in train
    * silently inflates benchmarks). The pair stream is
    * collision-driven; split assignment is a narrow projection joined
    * onto each endpoint. */
  def splitLeakage(s: SparkSession, dir: String): DataFrame = {
    val splits = Tables.documents(s, dir)
      .select(col("doc_id"),
        conv(substring(md5(col("doc_id").cast("string")), 1, 4), 16, 10)
          .cast("long").as("coin"))
      .withColumn("split",
        when(col("coin") < 52429L, "train")
          .when(col("coin") < 58982L, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("split"))
    Dedup.jaccardFromOverlap(ShingleStage.overlap3(s, dir), 0.6)
      .join(splits.select(col("doc_id").as("doc_id_a"), col("split").as("s_a")),
        Seq("doc_id_a"))
      .join(splits.select(col("doc_id").as("doc_id_b"), col("split").as("s_b")),
        Seq("doc_id_b"))
      .select(least(col("s_a"), col("s_b")).as("split_a"),
        greatest(col("s_a"), col("s_b")).as("split_b"))
      .groupBy(col("split_a"), col("split_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("split_a"), col("split_b"))
  }

  val splitLeakageSql: String =
    s"""${Llm.shingleCte},
      |${Llm.strongPairsCte()},
      |sp AS (SELECT doc_id,
      |         CASE WHEN CAST(concat('0x',
      |             substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |             < 52429 THEN 'train'
      |           WHEN CAST(concat('0x',
      |             substring(md5(CAST(doc_id AS VARCHAR)), 1, 4)) AS BIGINT)
      |             < 58982 THEN 'val'
      |           ELSE 'test' END AS split
      |       FROM documents)
      |SELECT least(a.split, b.split) AS split_a,
      |  greatest(a.split, b.split) AS split_b,
      |  CAST(count(*) AS BIGINT) AS n_pairs
      |FROM pairs JOIN sp a ON pairs.da = a.doc_id
      |JOIN sp b ON pairs.db = b.doc_id
      |GROUP BY 1, 2 ORDER BY split_a, split_b""".stripMargin

  /** L2r — LSH candidate-set recall/precision: the SET-level companion
    * to [[minhashError]]'s per-pair audit — of all truly-similar pairs
    * (exact Jaccard ≥ 0.5), how many did the banded proposer surface
    * (recall), and how much of the proposed stream is junk
    * (precision)? This is the number that decides bands×rows BEFORE a
    * 100 TB dedup run. Both pair sets derive from ONE fused digest
    * pass (shingleProfiles — hashed sets and signatures together); the
    * exact side is the shingle-keyed collision join, the candidate
    * side the band join; one full-outer join + exact counts + two
    * IEEE divisions. */
  def lshRecall(s: SparkSession, dir: String): DataFrame = {
    val prof = ShingleStage.profiles(s, dir)
    // exact ground truth from the STAGED overlap relation (same rows
    // as the inline explode/self-join/count — ShingleStage derives it
    // from the same hs sets)
    val exact = ShingleStage.overlap3(s, dir)
      .filter(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")) >= 0.5)
      .select(col("doc_id_a"), col("doc_id_b"), lit(1L).as("in_e"))
    val cands = Dedup.minhashCandidates(prof.select(col("doc_id"), col("sig")), 4)
      .select(col("doc_id_a"), col("doc_id_b"), lit(1L).as("in_c"))
    exact.join(cands, Seq("doc_id_a", "doc_id_b"), "full_outer")
      .agg(coalesce(sum(col("in_e")), lit(0L)).as("n_exact"),
        coalesce(sum(col("in_c")), lit(0L)).as("n_candidates"),
        coalesce(sum(col("in_e") * col("in_c")), lit(0L)).as("n_hit"))
      .select(col("n_exact"), col("n_candidates"), col("n_hit"),
        (col("n_hit").cast("double") / col("n_exact").cast("double"))
          .as("recall"),
        (col("n_hit").cast("double") / col("n_candidates").cast("double"))
          .as("precision"))
  }

  val lshRecallSql: String =
    s"""${Llm.shingleCte},
      |sz AS (SELECT doc_id, count(*) AS n_sh FROM sh GROUP BY doc_id),
      |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS i
      |          FROM sh a JOIN sh b
      |            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      |          GROUP BY 1, 2),
      |exact AS (SELECT da, db, 1 AS in_e FROM inter
      |          JOIN sz sa ON da = sa.doc_id JOIN sz sb ON db = sb.doc_id
      |          WHERE CAST(i AS DOUBLE) / (sa.n_sh + sb.n_sh - i) >= 0.5),
      |hh AS (SELECT doc_id,
      |         CAST(concat('0x', substring(md5(shingle), 1, 15)) AS BIGINT) AS h1,
      |         CAST(concat('0x', substring(md5(shingle), 17, 14)) AS BIGINT) AS h2
      |       FROM sh),
      |hs AS (SELECT doc_id, j, min(h1 + j * h2) AS mh
      |       FROM hh, (SELECT unnest(range(0, 16)) AS j) GROUP BY doc_id, j),
      |bands AS (SELECT doc_id, j // 4 AS band,
      |            string_agg(CAST(mh AS VARCHAR), ',' ORDER BY j) AS band_sig
      |          FROM hs GROUP BY doc_id, j // 4),
      |cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db, 1 AS in_c
      |         FROM bands a JOIN bands b
      |           ON a.band = b.band AND a.band_sig = b.band_sig
      |           AND a.doc_id < b.doc_id)
      |SELECT CAST(coalesce(sum(in_e), 0) AS BIGINT) AS n_exact,
      |  CAST(coalesce(sum(in_c), 0) AS BIGINT) AS n_candidates,
      |  CAST(coalesce(sum(in_e * in_c), 0) AS BIGINT) AS n_hit,
      |  CAST(coalesce(sum(in_e * in_c), 0) AS DOUBLE)
      |    / CAST(coalesce(sum(in_e), 0) AS DOUBLE) AS recall,
      |  CAST(coalesce(sum(in_e * in_c), 0) AS DOUBLE)
      |    / CAST(coalesce(sum(in_c), 0) AS DOUBLE) AS precision
      |FROM exact FULL OUTER JOIN cand ON exact.da = cand.da AND exact.db = cand.db""".stripMargin

  /** L21 — temperature-scaled training-mix weights: per-source
    * sampling weight ∝ n_tokens^α normalized over sources — the
    * standard multilingual/multi-source rebalancing rule (upweights
    * tails, downweights heads). α = 0.5 here because sqrt is the one
    * power IEEE guarantees correctly rounded on every engine — the
    * weight is exactly oracle-checkable where pow(·, 0.7) could drift
    * in the last ulp; the √n values are 1e-6-quantized to integers
    * before the (order-free) total. Two aggregates over the token
    * stream, everything else is arithmetic on a source-sized frame. */
  def mixWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("ntok"))
      .groupBy(col("source")).agg(sum(col("ntok")).as("n_tokens"))
      .select(col("source"), col("n_tokens"),
        expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)")
          .as("sq_q"))
    val tot = toks.agg(sum(col("sq_q")).as("tot_q"),
      sum(col("n_tokens")).as("tot_n"))
    toks.crossJoin(broadcast(tot))
      .select(col("source"), col("n_tokens"),
        (col("n_tokens").cast("double") / col("tot_n").cast("double"))
          .as("raw_share"),
        (col("sq_q").cast("double") / col("tot_q").cast("double"))
          .as("mix_weight"))
      .orderBy(col("source"))
  }

  val mixWeightsSql: String =
    """WITH t AS (SELECT source,
      |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
      |  FROM documents GROUP BY source),
      |q AS (SELECT source, n_tokens,
      |        CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT) AS sq_q
      |      FROM t),
      |tot AS (SELECT CAST(sum(sq_q) AS BIGINT) AS tot_q,
      |          CAST(sum(n_tokens) AS BIGINT) AS tot_n FROM q)
      |SELECT source, n_tokens,
      |  CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE) AS raw_share,
      |  CAST(sq_q AS DOUBLE) / CAST(tot_q AS DOUBLE) AS mix_weight
      |FROM q CROSS JOIN tot ORDER BY source""".stripMargin

  /** L20 — context-length histogram: documents bucketed by
    * power-of-two token counts — the report that sizes sequence-length
    * curricula and packing bins (how much of the corpus fits a 2^k
    * context). One narrow projection + one aggregate. */
  def lenHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(size(split(col("text"), " ")).cast("long").as("ntok"))
      .filter(col("ntok") >= 1)
      .select(expr("CAST(floor(log2(CAST(ntok AS DOUBLE))) AS INT)").as("bucket"),
        col("ntok"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_docs"), sum(col("ntok")).as("total_tokens"))
      .select(col("bucket"), expr("CAST(shiftleft(1L, bucket) AS BIGINT)").as("bucket_lo"),
        col("n_docs"), col("total_tokens"))
      .orderBy(col("bucket"))

  val lenHistogramSql: String =
    """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS ntok
      |           FROM documents),
      |b AS (SELECT CAST(floor(log2(CAST(ntok AS DOUBLE))) AS INT) AS bucket, ntok
      |      FROM d WHERE ntok >= 1)
      |SELECT bucket, CAST(1 << bucket AS BIGINT) AS bucket_lo,
      |  count(*) AS n_docs, CAST(sum(ntok) AS BIGINT) AS total_tokens
      |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin

  /** L22 — NDCG@5 retrieval quality: the exact cosine top-5
    * (q_sim_topk's machinery) scored against label relevance (a
    * neighbor is relevant iff it shares the probe's cluster label) —
    * the ranking-quality readout that turns "similarity search works"
    * into a number. Retrieved-set NDCG: IDCG re-ranks the SAME top-5
    * with its relevant members first, so ndcg = 1 exactly when all
    * hits precede all misses. Discount terms 1e12/log2(rank+1) are
    * floor-quantized to integers, so DCG/IDCG are exact int sums and
    * the final ratio one IEEE division. */
  def ndcg(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val labels = emb.select(col("vec_id"), col("label").cast("long").as("lbl"))
    val topk = graft.operators.Similarity.bruteForceTopK(
      emb.filter(col("vec_id") < 20), emb, 5)
    val w = Window.partitionBy(col("probe_id"))
    topk
      .join(labels.select(col("vec_id").as("probe_id"), col("lbl").as("pl")),
        Seq("probe_id"))
      .join(labels.select(col("vec_id").as("neighbor_id"), col("lbl").as("nl")),
        Seq("neighbor_id"))
      .select(col("probe_id"), col("rnk"),
        (col("pl") === col("nl")).cast("long").as("rel"),
        expr("CAST(floor(1e12 / log2(CAST(rnk + 1 AS DOUBLE))) AS BIGINT)")
          .as("q"))
      .withColumn("n_rel", sum(col("rel")).over(w))
      .groupBy(col("probe_id"), col("n_rel"))
      .agg(sum(col("rel") * col("q")).as("dcg_q"),
        sum((col("rnk") <= col("n_rel")).cast("long") * col("q")).as("idcg_q"))
      .select(col("probe_id"), col("n_rel"),
        when(col("n_rel") === 0, lit(0.0))
          .otherwise(col("dcg_q").cast("double") / col("idcg_q").cast("double"))
          .as("ndcg"))
      .orderBy(col("probe_id"))
  }

  val ndcgSql: String =
    """WITH n AS (SELECT vec_id, CAST(label AS BIGINT) AS lbl,
      |             CAST(embedding AS DOUBLE[]) AS e,
      |             sqrt(list_dot_product(CAST(embedding AS DOUBLE[]),
      |               CAST(embedding AS DOUBLE[]))) AS nrm
      |           FROM embeddings),
      |scored AS (SELECT p.vec_id AS probe_id, p.lbl AS pl,
      |             c.vec_id AS neighbor_id, c.lbl AS nl,
      |             list_dot_product(p.e, c.e) / (p.nrm * c.nrm) AS cosine
      |           FROM n p JOIN n c ON p.vec_id < 20 AND p.vec_id <> c.vec_id),
      |topk AS (SELECT * FROM (
      |    SELECT *, row_number() OVER (PARTITION BY probe_id
      |      ORDER BY cosine DESC, neighbor_id) AS rnk
      |    FROM scored) WHERE rnk <= 5),
      |r AS (SELECT probe_id, rnk,
      |        CASE WHEN pl = nl THEN 1 ELSE 0 END AS rel,
      |        CAST(floor(1e12 / log2(CAST(rnk + 1 AS DOUBLE))) AS BIGINT) AS q,
      |        CAST(sum(CASE WHEN pl = nl THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY probe_id) AS BIGINT) AS n_rel
      |      FROM topk)
      |SELECT probe_id, n_rel,
      |  CASE WHEN n_rel = 0 THEN 0.0
      |       ELSE CAST(CAST(sum(rel * q) AS BIGINT) AS DOUBLE)
      |         / CAST(CAST(sum(CASE WHEN rnk <= n_rel THEN 1 ELSE 0 END * q)
      |             AS BIGINT) AS DOUBLE) END AS ndcg
      |FROM r GROUP BY probe_id, n_rel ORDER BY probe_id""".stripMargin

  /** L2s — near-dup graph degree distribution: how many strong pairs
    * touch each document, histogrammed — the graph-shape audit that
    * distinguishes scattered pair-dups from template hubs BEFORE
    * choosing propagation vs contraction for the CC pass (a hub of
    * degree 10³ is exactly the shape that makes label propagation
    * slow). Pairs explode to both endpoints; two keyed aggregates. */
  def degreeStats(s: SparkSession, dir: String): DataFrame =
    Dedup.jaccardFromOverlap(ShingleStage.overlap3(s, dir), 0.6)
      .select(explode(array(col("doc_id_a"), col("doc_id_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("deg"))
      .groupBy(col("deg").cast("bigint").as("degree"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy(col("degree"))

  val degreeStatsSql: String =
    s"""${Llm.shingleCte},
      |${Llm.strongPairsCte()},
      |deg AS (SELECT doc_id, count(*) AS deg FROM
      |          (SELECT da AS doc_id FROM pairs
      |           UNION ALL SELECT db FROM pairs)
      |        GROUP BY doc_id)
      |SELECT CAST(deg AS BIGINT) AS degree, count(*) AS n_docs
      |FROM deg GROUP BY deg ORDER BY degree""".stripMargin

  /** L30 — pairwise-source Jensen-Shannon divergence: the SYMMETRIC,
    * bounded ([0, ln 2]) companion of L4q's KL — the right measure
    * when comparing two sources to each other (KL is asymmetric and
    * infinite on disjoint support; JS against the pairwise mixture is
    * neither), i.e. the source-similarity matrix a training-mix
    * designer actually reads. The mixture ratio inside each ln
    * reduces to exact integer products (2·n1·N2 / (n1·N2 + n2·N1)),
    * each term's contribution quantizes to 1e-9 fixed point and
    * integer-sums order-free. One (source, term) aggregate; the pair
    * scaffold is #sources² metadata (capped at the top-64 sources by
    * token volume so the nested-loop broadcast is PROVABLY bounded —
    * PlanGuardSpec), broadcast to the term stream — total work is
    * O(#pairs × vocab), never doc-pairs. */
  def jsDivergence(s: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(s, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
    val st = toks.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("n_st")).persistScoped() // totals + universe + both sides
    // top-64 sources by token volume (ties → source asc): the pairwise
    // matrix is #sources² and its scaffold is broadcast through a
    // nested-loop self-join, so the source list must be PROVABLY
    // bounded (PlanGuardSpec) — an uncapped domain enum is usually
    // tiny, but "usually" is not a bound. No-op below 65 sources.
    val ts = st.groupBy(col("source")).agg(sum(col("n_st")).as("n_tot"))
      .orderBy(col("n_tot").desc, col("source")).limit(64)
    val pairs = ts.select(col("source").as("s1"), col("n_tot").as("nt1"))
      .join(ts.select(col("source").as("s2"), col("n_tot").as("nt2")),
        col("s1") < col("s2"))
    // union of two broadcast hash equi-joins, NOT one OR-predicate
    // join: an OR across two columns can't hash-partition and would
    // plan a nested-loop probe of every pair against every
    // (source, term) row — the union form keeps O(1) probes per row
    // and the distinct collapses terms present in both sources
    val stp = st.select(col("source"), col("term"))
    val u = stp.join(broadcast(pairs), col("source") === col("s1"))
      .select(col("s1"), col("s2"), col("nt1"), col("nt2"), col("term"))
      .union(stp.join(broadcast(pairs), col("source") === col("s2"))
        .select(col("s1"), col("s2"), col("nt1"), col("nt2"), col("term")))
      .distinct()
    val j = u
      .join(st.select(col("source").as("s1"), col("term"), col("n_st").as("x1")),
        Seq("s1", "term"), "left")
      .join(st.select(col("source").as("s2"), col("term"), col("n_st").as("x2")),
        Seq("s2", "term"), "left")
      .select(col("s1"), col("s2"), col("nt1"), col("nt2"),
        coalesce(col("x1"), lit(0L)).as("n1"),
        coalesce(col("x2"), lit(0L)).as("n2"))
    val mix = "(CAST(n1 AS DOUBLE) * CAST(nt2 AS DOUBLE) " +
      "+ CAST(n2 AS DOUBLE) * CAST(nt1 AS DOUBLE))"
    j.select(col("s1"), col("s2"),
        expr("CASE WHEN n1 > 0 THEN CAST(floor((CAST(n1 AS DOUBLE) / " +
          "CAST(nt1 AS DOUBLE)) * ln((CAST(n1 AS DOUBLE) * CAST(nt2 AS DOUBLE) " +
          s"* 2) / $mix) * 1e9) AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("c1"),
        expr("CASE WHEN n2 > 0 THEN CAST(floor((CAST(n2 AS DOUBLE) / " +
          "CAST(nt2 AS DOUBLE)) * ln((CAST(n2 AS DOUBLE) * CAST(nt1 AS DOUBLE) " +
          s"* 2) / $mix) * 1e9) AS BIGINT) ELSE CAST(0 AS BIGINT) END").as("c2"))
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("n_terms"), sum(col("c1") + col("c2")).as("js_q"))
      .select(col("s1"), col("s2"), col("n_terms"),
        (col("js_q").cast("double") / 2e9).as("js"))
      .orderBy(col("s1"), col("s2"))
  }

  val jsDivergenceSql: String =
    """WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS term
      |              FROM documents),
      |st AS (SELECT source, term, count(*) AS n_st FROM toks
      |       WHERE term <> '' GROUP BY source, term),
      |ts AS (SELECT source, n_tot FROM (
      |         SELECT source, CAST(sum(n_st) AS BIGINT) AS n_tot FROM st
      |         GROUP BY source)
      |       ORDER BY n_tot DESC, source LIMIT 64),
      |pr AS (SELECT a.source AS s1, a.n_tot AS nt1, b.source AS s2,
      |         b.n_tot AS nt2
      |       FROM ts a JOIN ts b ON a.source < b.source),
      |u AS (SELECT DISTINCT s1, s2, nt1, nt2, term
      |      FROM st JOIN pr ON st.source = s1 OR st.source = s2),
      |j AS (SELECT u.s1, u.s2, u.nt1, u.nt2,
      |        coalesce(x.n_st, 0) AS n1, coalesce(y.n_st, 0) AS n2
      |      FROM u
      |      LEFT JOIN st x ON x.source = u.s1 AND x.term = u.term
      |      LEFT JOIN st y ON y.source = u.s2 AND y.term = u.term),
      |c AS (SELECT s1, s2,
      |        CASE WHEN n1 > 0 THEN CAST(floor((CAST(n1 AS DOUBLE) /
      |          CAST(nt1 AS DOUBLE)) * ln((CAST(n1 AS DOUBLE) *
      |          CAST(nt2 AS DOUBLE) * 2) / (CAST(n1 AS DOUBLE) *
      |          CAST(nt2 AS DOUBLE) + CAST(n2 AS DOUBLE) *
      |          CAST(nt1 AS DOUBLE))) * 1e9) AS BIGINT)
      |          ELSE CAST(0 AS BIGINT) END AS c1,
      |        CASE WHEN n2 > 0 THEN CAST(floor((CAST(n2 AS DOUBLE) /
      |          CAST(nt2 AS DOUBLE)) * ln((CAST(n2 AS DOUBLE) *
      |          CAST(nt1 AS DOUBLE) * 2) / (CAST(n1 AS DOUBLE) *
      |          CAST(nt2 AS DOUBLE) + CAST(n2 AS DOUBLE) *
      |          CAST(nt1 AS DOUBLE))) * 1e9) AS BIGINT)
      |          ELSE CAST(0 AS BIGINT) END AS c2
      |      FROM j)
      |SELECT s1, s2, count(*) AS n_terms,
      |  CAST(CAST(sum(c1 + c2) AS BIGINT) AS DOUBLE) / 2e9 AS js
      |FROM c GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin

  /** L31 — k-min-sketch cross-source overlap estimate: the
    * sketch-sized twin of L18's exact overlap matrix. Each source
    * keeps its 64 smallest distinct doc hashes (md5 — deterministic,
    * so the "sketch" is exactly reproducible and oracle-checkable);
    * the pairwise estimate is the classic k-min union trick —
    * |both ∈ k-min(A ∪ B)| / k — so comparing two 100 TB sources
    * costs k rows per source after one distinct pass, not a
    * doc-hash join. The per-source k-min runs on the [[graft
    * .operators.TopKPairs]] bounded heap (value = −hash): map-side
    * combine ships ≤k rows per (source × partition), no per-source
    * sort anywhere; everything after the sketch is pairs × k
    * metadata. The estimate's error vs the exact matrix is the
    * q_source_overlap cross-check. The pair scaffold caps at the
    * top-64 sources by distinct-doc volume (one extra count in the
    * same sketch aggregate), making the nested-loop broadcast
    * PROVABLY bounded (PlanGuardSpec). */
  def sketchOverlap(s: SparkSession, dir: String, k: Int = 64): DataFrame = {
    val heap = udaf(new graft.operators.TopKPairs(k))
    val d = Tables.widen(Tables.documents(s, dir))
      .select(col("source"),
        expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)").as("h"))
      .distinct()
    // ONE aggregate produces both the k-min sketch and the source's
    // distinct-doc volume — the volume exists solely to make the pair
    // scaffold provably bounded (top-64 sources by volume, ties →
    // source asc; no-op below 65 sources): the #sources² matrix is
    // broadcast through a nested-loop self-join, so PlanGuardSpec
    // demands a structural bound, not a domain-enum assumption.
    val agg0 = d.groupBy(col("source"))
      .agg(heap(-col("h"), col("h")).as("top"), count(lit(1)).as("vol"))
      .persistScoped() // sketch rows + the capped source list
    // The CAPPED sketch table is BOUNDED BY CONSTRUCTION (≤64 sources
    // after the volume cut × ≤k sketch rows each ⇒ ≤64·k rows at ANY
    // corpus size — the same structural bound that already justifies
    // the pair scaffold's nested-loop broadcast), so the pairwise
    // union-tag / rank / census machinery runs locally over the
    // collected rows (TradeGraph bounded-metadata pattern) instead of
    // two broadcast joins + a union + two keyed aggregates + a window.
    // Exact replication: per-pair union of the two k-min draws, dedup
    // by hash with membership flags, keep the k smallest, count both-
    // members — all integers until the one closing double division.
    val srcs = agg0.orderBy(col("vol").desc, col("source")).limit(64)
      .select(col("source"))
    val sk = graft.Bounded.collect(agg0
        .join(srcs, Seq("source"), "left_semi")
        .select(col("source"), explode(col("top")).as("t"))
        .select(col("source"), col("t._3").as("h")),
      64 * k, "capped sketch rows (64 sources × k) in sketchOverlap")
      .map(r => (r.getString(0), r.getLong(1)))
    val bySrc = sk.groupBy(_._1).map { case (s0, rs) =>
      s0 -> rs.map(_._2).toSet
    }
    val sources = bySrc.keys.toSeq.sorted
    val out = for {
      i <- sources.indices
      j <- (i + 1) until sources.length
    } yield {
      val (s1, s2) = (sources(i), sources(j))
      val (ha, hb) = (bySrc(s1), bySrc(s2))
      val kept = (ha ++ hb).toSeq.sorted.take(k)
      val kUsed = kept.length.toLong
      val nBoth = kept.count(h => ha(h) && hb(h)).toLong
      (s1, s2, kUsed, nBoth, nBoth.toDouble / kUsed)
    }
    import s.implicits._
    out.toDF("s1", "s2", "k_used", "n_both", "est_jaccard")
      .orderBy(col("s1"), col("s2"))
  }

  val sketchOverlapSql: String =
    """WITH d AS (SELECT DISTINCT source,
      |    CAST(concat('0x', substring(md5(text), 1, 15)) AS BIGINT) AS h
      |  FROM documents),
      |r AS (SELECT source, h,
      |        row_number() OVER (PARTITION BY source ORDER BY h) AS rn
      |      FROM d),
      |sk AS (SELECT source, h FROM r WHERE rn <= 64),
      |ss AS (SELECT source FROM (
      |         SELECT source, count(*) AS vol FROM d GROUP BY source)
      |       ORDER BY vol DESC, source LIMIT 64),
      |pr AS (SELECT a.source AS s1, b.source AS s2 FROM ss a
      |       JOIN ss b ON a.source < b.source),
      |m AS (SELECT s1, s2, h, max(ina) AS ina, max(inb) AS inb FROM (
      |        SELECT s1, s2, h, 1 AS ina, 0 AS inb FROM pr
      |        JOIN sk ON sk.source = s1
      |        UNION ALL
      |        SELECT s1, s2, h, 0 AS ina, 1 AS inb FROM pr
      |        JOIN sk ON sk.source = s2)
      |      GROUP BY s1, s2, h),
      |u AS (SELECT s1, s2, ina, inb,
      |        row_number() OVER (PARTITION BY s1, s2 ORDER BY h) AS rn
      |      FROM m)
      |SELECT s1, s2, count(*) AS k_used,
      |  CAST(sum(ina * inb) AS BIGINT) AS n_both,
      |  CAST(sum(ina * inb) AS DOUBLE) / count(*) AS est_jaccard
      |FROM u WHERE rn <= 64 GROUP BY s1, s2 ORDER BY s1, s2""".stripMargin

  /** L33 — effective sample size of a weighted mix: ESS =
    * (Σw)²/Σw² per language under the temperature-scaled source
    * weights of L21's mixing scheme (w = √count per source — the same
    * temperature-0.5 flattening and the same IEEE-exact sqrt L21
    * uses; pow(x, 0.7) is NOT correctly rounded across libms and
    * would wobble the quantization) — the importance-sampling
    * diagnostic that says how many EQUIVALENT unweighted documents a
    * weighted corpus is worth (ESS ≪ n means a few heavy sources
    * dominate and the mix needs flattening). Weights quantize to
    * exact 1e-6 integers; Σw and Σw² accumulate in decimal — one
    * aggregate, one fixed terminal chain. */
  def effectiveSampleSize(s: SparkSession, dir: String): DataFrame = {
    val d19 = "decimal(19,0)"
    val srcW = Tables.documents(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_src"))
      .select(col("source"),
        floor(sqrt(col("n_src").cast("double")) * 1e6)
          .cast("bigint").as("wq"))
    Tables.documents(s, dir)
      .select(col("lang"), col("source"))
      .join(broadcast(srcW), Seq("source"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("wq")).as("sw"),
        sum(col("wq").cast(d19) * col("wq").cast(d19)).as("sww"))
      .select(col("lang"), col("n_docs"),
        ((col("sw").cast(d19) * col("sw").cast(d19)).cast("double")
          / col("sww").cast("double")).as("ess"),
        (((col("sw").cast(d19) * col("sw").cast(d19)).cast("double")
          / col("sww").cast("double")) / col("n_docs")).as("ess_ratio"))
      .orderBy(col("lang"))
  }

  val effectiveSampleSizeSql: String =
    """WITH sw AS (SELECT source,
      |    CAST(floor(sqrt(CAST(count(*) AS DOUBLE)) * 1e6) AS BIGINT)
      |      AS wq
      |  FROM documents GROUP BY source),
      |j AS (SELECT d.lang, sw.wq FROM documents d
      |      JOIN sw ON d.source = sw.source),
      |a AS (SELECT lang, count(*) AS n_docs, CAST(sum(wq) AS BIGINT) AS s1,
      |        CAST(sum(CAST(wq AS DECIMAL(19,0)) * wq) AS DECIMAL(38,0)) AS s2
      |      FROM j GROUP BY lang)
      |SELECT lang, n_docs,
      |  CAST(CAST(CAST(s1 AS DECIMAL(19,0)) * s1 AS DECIMAL(38,0)) AS DOUBLE)
      |    / CAST(s2 AS DOUBLE) AS ess,
      |  (CAST(CAST(CAST(s1 AS DECIMAL(19,0)) * s1 AS DECIMAL(38,0)) AS DOUBLE)
      |    / CAST(s2 AS DOUBLE)) / n_docs AS ess_ratio
      |FROM a ORDER BY lang""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_effective_sample_size" -> (effectiveSampleSize _),
    "q_sketch_overlap" -> ((s: SparkSession, d: String) => sketchOverlap(s, d)),
    "q_js_divergence" -> (jsDivergence _),
    "q_degree_stats" -> (degreeStats _),
    "q_mix_weights" -> (mixWeights _),
    "q_len_histogram" -> (lenHistogram _),
    "q_ndcg" -> (ndcg _),
    "q_lsh_recall" -> (lshRecall _),
    "q_minhash_error" -> (minhashError _),
    "q_zipf_slope" -> (zipfSlope _),
    "q_kl_sources" -> (klSources _),
    "q_cluster_sizes" -> (clusterSizes _),
    "q_split_leakage" -> (splitLeakage _),
  )

  val oracle: Map[String, String] = Map(
    "q_effective_sample_size" -> effectiveSampleSizeSql,
    "q_sketch_overlap" -> sketchOverlapSql,
    "q_js_divergence" -> jsDivergenceSql,
    "q_degree_stats" -> degreeStatsSql,
    "q_mix_weights" -> mixWeightsSql,
    "q_len_histogram" -> lenHistogramSql,
    "q_ndcg" -> ndcgSql,
    "q_lsh_recall" -> lshRecallSql,
    "q_minhash_error" -> minhashErrorSql,
    "q_zipf_slope" -> zipfSlopeSql,
    "q_kl_sources" -> klSourcesSql,
    "q_cluster_sizes" -> clusterSizesSql,
    "q_split_leakage" -> splitLeakageSql,
  )
}
