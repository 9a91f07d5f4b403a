package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.Caches.PersistScoped
import graft.functions.GraftFunctions
import graft.operators.{Multimodal, Similarity, VectorMean}

/** Sketch/ANN/builtin-moment operators (SURVEY.md §2B G3, G6, the ANN
  * scale path, the engine-native fingerprint). Oracle-checked where
  * DuckDB can express the result (json_roundtrip, stats_builtin,
  * multimodal_features); the rest are genuinely engine-specific
  * (sketches, LSH bucketing, FNV, float32 accumulation) → rows-only
  * check from the driver, with the real assertions in ScalaTest
  * (tolerance vs exact, recall vs brute force, known-answer vectors,
  * equivalence to built-in avg).
  */
object Extras {

  /** G3 — HLL approximate distinct count alongside the exact value;
    * the spec asserts relative error < 5%. At scale this is the
    * mergeable-sketch answer to COUNT(DISTINCT) without the full
    * distinct shuffle. */
  def approxDistinct(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
        countDistinct(col("l_partkey")).as("exact_parts"))
      .orderBy(col("l_returnflag"))

  /** G6/D2 — custom typed Aggregator: per-label element-wise embedding
    * mean (the centroid computation behind IVF-style ANN indexing). */
  def vectorCentroids(s: SparkSession, dir: String): DataFrame = {
    val vm = udaf(new VectorMean(64))
    Tables.embeddings(s, dir)
      .groupBy(col("label"))
      .agg(vm(col("embedding")).as("centroid"))
      .select(col("label"),
        round(element_at(col("centroid"), 1), 6).as("c1"),
        round(element_at(col("centroid"), 2), 6).as("c2"),
        round(expr("aggregate(centroid, CAST(0.0 AS DOUBLE), (a, x) -> a + x * x)"), 6)
          .as("sq_norm"))
      .orderBy(col("label"))
  }

  /** ANN — LSH-bucketed approximate top-k (the 100 TB similarity
    * path); recall vs bruteForceTopK asserted in SimilaritySpec. */
  def annLsh(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.lshTopK(emb.filter(col("vec_id") < 20), emb, 5, bits = 6, tables = 8)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** ANN — IVF inverted-list approximate top-k (k-means coarse
    * quantizer + nprobe-list search), the second classic ANN scale
    * path; recall vs brute force asserted in SimilaritySpec. */
  def annIvf(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfTopK(emb.filter(col("vec_id") < 20), emb, 5, nprobe = 2)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** ANN — product-quantization approximate top-k (16 subspaces × 32
    * codes: ~25× corpus-index compression, asymmetric raw-probe vs
    * decoded-code scoring); recall vs brute force asserted in
    * SimilaritySpec. */
  def annPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.pqTopK(emb.filter(col("vec_id") < 20), emb, 5)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** ANN — IVF-PQ two-level approximate top-k (coarse inverted lists
    * pruned first, PQ codes scored only inside the nprobe probed
    * lists): the composition that keeps per-probe work at
    * ~nprobe/nlist of the corpus while the index stays ~25×
    * compressed. Recall vs brute force and vs flat PQ asserted in
    * SimilaritySpec. */
  def annIvfPq(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    Similarity.ivfPqTopK(emb.filter(col("vec_id") < 20), emb, 5, nprobe = 6)
      .orderBy(col("probe_id"), col("rnk"))
  }

  /** L24 — compression-ratio quality score: deflated/raw bytes per
    * document (graft.functions.DeflateSize) — the zero-linguistics
    * boilerplate detector (templated text compresses far below natural
    * prose; production corpus filters cut on exactly this ratio).
    * Deterministic for fixed zlib parameters but engine-specific
    * (DuckDB exposes no deflate) → rows-only check; ExtrasSpec asserts
    * the signal separates repetitive from diverse fixture docs and is
    * partitioning-invariant. */
  def compressRatio(s: SparkSession, dir: String): DataFrame = {
    GraftFunctions.register(s)
    Tables.documents(s, dir)
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        GraftFunctions.deflateSize(col("text")).as("n_deflated"))
      .withColumn("ratio",
        col("n_deflated").cast("double") / col("n_chars").cast("double"))
      .orderBy(col("doc_id"))
  }

  /** Engine-native fingerprint via the codegen'd FNV-1a expression
    * (known-answer vectors asserted in FunctionsSpec). Fully
    * oracle-checked since round 9: DuckDB replays the byte fold as a
    * list_reduce in HUGEINT with an explicit mod-2^64 — exact because
    * the fixture corpus is pure ASCII (code point = UTF-8 byte;
    * asserted below the oracle map), so the two engines hash identical
    * byte streams. */
  def fnvFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), GraftFunctions.fnv64(col("text")).as("fp64"))
      .orderBy(col("doc_id"))

  /** L5 — multimodal decode/feature pipeline on synthesized payloads
    * (decode stage stubbed; plumbing real — see operators.Multimodal).
    * Oracle-checked: the emitted columns are the ones DuckDB can
    * recompute from the source bytes — n_bytes from the mapPartitions
    * decode pass (proves the Dataset[MediaRow] encoder round-trips the
    * payload through the stub pipeline) plus the typed-metadata kind
    * and an md5 over the payload (bit-level payload integrity across
    * the binary cast + encoder). The engine-specific outputs (FNV
    * checksum, float32 feature accumulation) stay ScalaTest-asserted
    * in MultimodalSpec — they are still computed (the decode stage is
    * opaque to column pruning), just not hash-compared. */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = Multimodal.fromDocuments(Tables.documents(s, dir))
    val feats = Multimodal.extractFeatures(media).toDF()
      .select(col("media_id"), col("n_bytes"))
    media.toDF()
      .select(col("media_id"), col("meta.kind").as("kind"),
        md5(col("payload")).as("payload_md5"))
      .join(feats, Seq("media_id"))
      .select(col("media_id"), col("n_bytes"), col("kind"), col("payload_md5"))
      .orderBy(col("media_id"))
  }

  /** L41 — REAL codec decode audit (PNG + JPEG), oracle-checked: a
    * deterministic image is synthesized per sampled doc (dimensions
    * derived from n_chars), encoded with the row-selected JDK codec
    * (even doc_id → PNG, odd → JPEG), then decoded back with ImageIO —
    * and the emitted dimensions come from the DECODED content only, so
    * a broken decode path (either codec) hash-mismatches against the
    * DuckDB oracle recomputing the expected dims from the fixture
    * columns. Dimensions survive JPEG's lossy pixels exactly. Bounded
    * work: a 1-in-29 doc sample at ≤32×18 px each; one narrow
    * mapPartitions (codec instance per partition), no shuffle before
    * the final sort. A decode failure throws (.get): this query IS the
    * codec self-test, so degrading row-wise would hide the breakage. */
  def multimodalDecode(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val rows = Tables.documents(s, dir)
      .filter(col("doc_id") % 29 === 0)
      .select(col("doc_id"), (col("n_chars") % 31 + 1).cast("int").as("w"),
        (col("n_chars") % 17 + 1).cast("int").as("h"))
      .as[(Long, Int, Int)]
    rows.mapPartitions { it =>
      it.map { case (id, w, h) =>
        val fmt = if (id % 2 == 0) "png" else "jpg"
        val img = Multimodal.decodeImage(Multimodal.synthImage(id, w, h, fmt)).get
        (id, fmt, img.getWidth, img.getHeight, img.getWidth * img.getHeight)
      }
    }.toDF("doc_id", "codec", "width", "height", "n_pixels")
      .orderBy(col("doc_id"))
  }

  /** S3/A8 — NDJSON interchange semantics (the reference's transport
    * format: gzipped newline-delimited JSON): serialize each event row
    * to a JSON line, parse it back with an explicit schema, and emit
    * the parsed fields. The file-based gzip round trip is exercised in
    * EtlSpec. Oracle-checked: the serialize→parse cycle must reproduce
    * the source rows exactly (doubles survive via Java's shortest
    * round-trip representation), so the oracle is the source
    * projection itself — see the oracle map below. */
  def jsonRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    ev.select(to_json(struct(col("event_id"), col("event_type"), col("value"))).as("line"))
      .select(from_json(col("line"),
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id BIGINT, event_type STRING, value DOUBLE")).as("r"))
      .select(col("r.event_id").as("event_id"), col("r.event_type").as("event_type"),
        col("r.value").as("value"))
      .orderBy(col("event_id"))
  }

  /** Approximate percentiles (t-digest-style sketch): mergeable
    * partial/final like HLL, the scale answer to exact quantiles
    * (which need a full sort). Sketch output is engine-specific →
    * rows-only + sanity bounds in the spec. */
  def percentileApprox(s: SparkSession, dir: String): DataFrame =
    Tables.orders(s, dir)
      .groupBy(col("o_orderstatus"))
      .agg(
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000)).as("p50"),
        percentile_approx(col("o_totalprice"), lit(0.9), lit(1000)).as("p90"),
        min(col("o_totalprice")).as("lo"),
        max(col("o_totalprice")).as("hi"))
      .orderBy(col("o_orderstatus"))

  /** Built-in second/higher-moment aggregates (stddev/variance/corr/
    * covar/skewness/kurtosis). Oracle-checked at round(4): the
    * accumulation-order wobble of a double sum over the fixture is
    * ~1e-12 relative, far inside 4 decimals. Definition care: Spark's
    * skewness/kurtosis are the POPULATION moments (g1 = m3/n over
    * (m2/n)^1.5; g2 = n·m4/m2² − 3) while DuckDB's builtins apply
    * sample-bias correction — so the oracle recomputes Spark's
    * definitions from explicit central-moment sums instead of calling
    * DuckDB's skewness()/kurtosis(). The deterministic exact-decimal
    * formulation is q_stats_moments. */
  def statsBuiltin(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        round(stddev_samp(col("l_quantity")), 4).as("sd_qty"),
        round(var_samp(col("l_quantity")), 4).as("var_qty"),
        round(corr(col("l_quantity"), col("l_extendedprice")), 4).as("corr_qp"),
        round(covar_samp(col("l_quantity"), col("l_extendedprice")), 4).as("covar_qp"),
        round(skewness(col("l_quantity")), 4).as("skew_qty"),
        round(kurtosis(col("l_quantity")), 4).as("kurt_qty"))
      .orderBy(col("l_returnflag"))

  /** Frequent-items sketch (Karp-Papadimitriou-Shenker): approximate
    * heavy hitters without a full groupBy — mergeable, single pass.
    * Support threshold 0.3 → any item in >30% of rows is guaranteed
    * present. Rows-only (sketch contents beyond the guarantee are
    * engine-specific). */
  def freqItems(s: SparkSession, dir: String): DataFrame = {
    val fi = Tables.orders(s, dir)
      .stat.freqItems(Array("o_orderstatus", "o_orderpriority"), 0.3)
    fi.select(
      concat_ws(",", sort_array(col("o_orderstatus_freqItems"))).as("freq_status"),
      size(col("o_orderpriority_freqItems")).cast("int").as("n_freq_prio"))
  }

  /** G23 — KMV (k-minimum-values) distinct sketch as a typed
    * Aggregator (operators.KmvSketch): keep the 64 smallest distinct
    * 60-bit md5 hashes per group, estimate D ≈ 63·2^60/h_(64). Unlike
    * HLL the sketch is fully deterministic given the hash, so it is
    * ORACLE-CHECKED — DuckDB recomputes the same k-th minimum and the
    * same single-division estimate bit-for-bit. Groups under 64
    * distinct values are exact (the buffer is the set); the buffer is
    * 64×8 bytes through partial/final aggregation, the mergeable-
    * sketch shape at any scale. */
  def kmvDistinct(s: SparkSession, dir: String): DataFrame = {
    val kmv = udaf(new graft.operators.KmvSketch(64))
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT)").as("h"))
      .groupBy(col("event_type"))
      .agg(kmv(col("h")).as("est"),
        countDistinct(col("h")).as("n_exact"))
      .select(col("event_type"), col("n_exact"), col("est"))
      .orderBy(col("event_type"))
  }

  val kmvDistinctSql: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |             CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)),
      |               1, 15)) AS BIGINT) AS h
      |           FROM events),
      |r AS (SELECT event_type, h,
      |        row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk,
      |        count(*) OVER (PARTITION BY event_type) AS nd
      |      FROM h)
      |SELECT event_type, CAST(max(nd) AS BIGINT) AS n_exact,
      |  CASE WHEN max(nd) < 64 THEN CAST(max(nd) AS DOUBLE)
      |       ELSE 63.0 * 1152921504606846976.0
      |         / CAST(max(CASE WHEN rk = 64 THEN h END) AS DOUBLE) END AS est
      |FROM r GROUP BY event_type ORDER BY event_type""".stripMargin

  /** G29 — count-min sketch heavy-hitter readout (operators.CmsSketch):
    * a Zipf-distributed key (rank = floor(exp(u·ln 1000)) from a
    * uniform md5 coin — rank r carries ~1/r of the mass, the
    * distribution CMS exists for; TPC-H's near-uniform keys would
    * drown any w-bounded sketch) streams into a 4×1024 counter sketch;
    * the top-20 true keys are then read back through the sketch and
    * emitted next to their exact counts with the one-sided-error flag
    * (CMS never underestimates — counters only gain mass). The
    * counters are deterministic md5 sums, so the oracle rebuilds every
    * counter and every min in plain SQL — the same full-check posture
    * as G23's KMV, not a tolerance test. Scale shape: ONE pass builds
    * the sketch (4096 longs cross the exchange, never the stream), one
    * group-count finds the truth to compare against; the probe side is
    * a 20-row broadcast. */
  def cmsTopk(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 1024
    // zkey = floor(exp(u·ln 1000)) with u ∈ [0, 1) is BOUNDED in
    // [1, 999] by construction, so ONE map-side-combining census
    // aggregate collapses the fact stream; the sketch counters, the
    // top-20 draw, and the per-key min-readout all replay locally
    // over the collected cells in exact integer arithmetic (§2.4
    // bounded-metadata collapse — the former plan persisted the
    // md5-projected stream and ran TWO aggregates plus a broadcast
    // crossJoin over it). counter(r, b) = Σ census counts of the keys
    // hashing to b: identical to CmsSketch's per-row increments
    // because the bucket depends on the KEY alone and the sums are
    // associative; Sketches.hash60 IS the SQL
    // conv(substring(md5(…), 1, 15), 16, 10) convention (pinned by
    // SketchSpec), so every counter and every least(...) readout is
    // bit-identical to the former expression tree.
    // widen: the per-row md5 zkey is the census pass's cost, and a
    // one-row-group input scans as a single task
    val census = Tables.widen(Tables.lineitem(s, dir))
      .select(expr("CAST(floor(exp((CAST(conv(substring(md5(concat(" +
        "'cms|', CAST(l_orderkey AS STRING), '|', " +
        "CAST(l_linenumber AS STRING))), 1, 8), 16, 10) AS BIGINT) " +
        "% 1000000) / 1e6 * ln(1000.0D))) AS BIGINT)").as("zkey"))
      .groupBy(col("zkey")).agg(count(lit(1)).as("true_cnt"))
    val cells = graft.Bounded.collect(census, 4096, "cells (zkey ∈ [1, 1000)) in the zkey census")
      .map(r => (r.getLong(0), r.getLong(1)))
    def bucket(r: Int, z: Long): Int =
      (graft.operators.Sketches.hash60(s"$r|$z") % w).toInt
    val counters = new Array[Long](d * w)
    cells.foreach { case (z, c) =>
      var r = 0
      while (r < d) { counters(r * w + bucket(r, z)) += c; r += 1 }
    }
    val rows = cells.sortBy { case (z, c) => (-c, z) }.take(20).map {
      case (z, c) =>
        val est = (0 until d).map(r => counters(r * w + bucket(r, z))).min
        org.apache.spark.sql.Row(z, c, est, est >= c)
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("zkey",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("true_cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cms_cnt",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("overestimate",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    s.createDataFrame(new java.util.ArrayList(
        java.util.Arrays.asList(rows: _*)), schema)
      .orderBy(col("true_cnt").desc, col("zkey"))
  }

  val cmsTopkSql: String =
    """WITH src AS (SELECT CAST(floor(exp((CAST(concat('0x',
      |      substring(md5(concat('cms|', CAST(l_orderkey AS VARCHAR), '|',
      |        CAST(l_linenumber AS VARCHAR))), 1, 8)) AS BIGINT)
      |      % 1000000) / 1e6 * ln(1000.0))) AS BIGINT) AS zkey
      |  FROM lineitem),
      |cnt AS (SELECT zkey, count(*) AS true_cnt FROM src GROUP BY zkey),
      |top AS (SELECT zkey, true_cnt FROM cnt
      |        ORDER BY true_cnt DESC, zkey LIMIT 20),
      |ctr AS (SELECT r, CAST(concat('0x', substring(md5(concat(
      |      CAST(r AS VARCHAR), '|', CAST(zkey AS VARCHAR))), 1, 15))
      |      AS BIGINT) % 1024 AS b, count(*) AS c
      |    FROM src CROSS JOIN (SELECT unnest(range(0, 4)) AS r)
      |    GROUP BY 1, 2),
      |est AS (SELECT t.zkey, t.true_cnt, CAST(min(ctr.c) AS BIGINT) AS cms_cnt
      |    FROM top t CROSS JOIN (SELECT unnest(range(0, 4)) AS r2)
      |    JOIN ctr ON ctr.r = r2
      |      AND ctr.b = CAST(concat('0x', substring(md5(concat(
      |        CAST(r2 AS VARCHAR), '|', CAST(t.zkey AS VARCHAR))), 1, 15))
      |        AS BIGINT) % 1024
      |    GROUP BY t.zkey, t.true_cnt)
      |SELECT zkey, true_cnt, cms_cnt, cms_cnt >= true_cnt AS overestimate
      |FROM est ORDER BY true_cnt DESC, zkey""".stripMargin

  /** G27 — HyperLogLog as the library's OWN typed Aggregator
    * (operators.HllSketch, p=8 → 256 registers): bucket = top 8 hash
    * bits, register = max ρ(low 52 bits), merge = elementwise max.
    * The estimate chain is the standard HLL recipe (α_m bias constant,
    * harmonic mean, linear-counting small-range correction) — but
    * unlike the engine's opaque approx_count_distinct bytes, every
    * register is a deterministic function of the md5 hash convention
    * and the harmonic sum is carried as the EXACT int64 Σ2^(53−M_j),
    * so the DuckDB oracle rebuilds the full register file (a 256-row
    * spine left-joined against observed buckets) and the identical
    * IEEE estimate chain — the same full-check posture as G23/G26,
    * which no float-accumulating HLL could offer. ~6.5% standard
    * error at m=256; next to n_exact the readout shows it. */
  def hllDistinct(s: SparkSession, dir: String): DataFrame = {
    val hll = udaf(new graft.operators.HllSketch(8))
    Tables.events(s, dir)
      .select(col("event_type"),
        expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), 16, 10) " +
          "AS BIGINT)").as("h"))
      .groupBy(col("event_type"))
      .agg(countDistinct(col("h")).as("n_exact"),
        round(hll(col("h")), 4).as("hll_est"))
      .orderBy(col("event_type"))
  }

  val hllDistinctSql: String =
    """WITH h AS (SELECT DISTINCT event_type,
      |    CAST(concat('0x', substring(md5(CAST(user_id AS VARCHAR)), 1, 15))
      |      AS BIGINT) AS h
      |  FROM events),
      |r AS (SELECT event_type, CAST(h >> 52 AS INT) AS bucket,
      |        h & ((CAST(1 AS BIGINT) << 52) - 1) AS v
      |      FROM h),
      |reg AS (SELECT event_type, bucket,
      |        max(CASE WHEN v = 0 THEN 53
      |                 ELSE 53 - length(bin(v)) END) AS mj
      |      FROM r GROUP BY 1, 2),
      |spine AS (SELECT DISTINCT event_type FROM events),
      |regs AS (SELECT s.event_type, b.bucket, coalesce(reg.mj, 0) AS mj
      |      FROM spine s
      |      CROSS JOIN (SELECT unnest(range(0, 256)) AS bucket) b
      |      LEFT JOIN reg ON reg.event_type = s.event_type
      |        AND reg.bucket = b.bucket),
      |agg AS (SELECT event_type,
      |        CAST(sum(CAST(1 AS BIGINT) << (53 - mj)) AS BIGINT) AS s,
      |        CAST(sum(CASE WHEN mj = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros
      |      FROM regs GROUP BY 1),
      |est AS (SELECT event_type, zeros,
      |        (0.7213 / (1.0 + 1.079 / 256)) * 256 * 256
      |          * 9007199254740992.0 / CAST(s AS DOUBLE) AS raw
      |      FROM agg),
      |x AS (SELECT event_type, count(DISTINCT h) AS n_exact FROM h GROUP BY 1)
      |SELECT x.event_type, x.n_exact,
      |  round(CASE WHEN raw < 2.5 * 256 AND zeros > 0
      |             THEN 256 * ln(256.0 / zeros) ELSE raw END, 4) AS hll_est
      |FROM x JOIN est ON x.event_type = est.event_type
      |ORDER BY x.event_type""".stripMargin

  /** E8b — own Bloom filter (operators.BloomAgg, 65536 bits × 4
    * hashes, word-wise-OR merge) built over the customers that placed
    * orders and probed with EVERY customer — the broadcast pre-filter
    * shape of E8's builtin `bloom_filter_agg`, but with every bit a
    * deterministic md5 function, so the oracle reproduces the exact
    * bit set (as a DISTINCT position relation) and the exact
    * per-probe verdicts INCLUDING which probes false-positive. The
    * readout proves the one-sided contract: n_missed must be 0 (a
    * present key always hits), and the measured fp_rate sits near the
    * (1−e^(−kn/m))^k design point. Scale shape: the filter crosses
    * the exchange (8 KB), never the build rows; probing is a narrow
    * broadcast map. */
  def bloomOwn(s: SparkSession, dir: String): DataFrame = {
    val m = 65536; val k = 4
    val bloom = udaf(new graft.operators.BloomAgg(m, k))
    val filt = Tables.orders(s, dir)
      .agg(bloom(col("o_custkey").cast("string")).as("bits"))
    val present = Tables.orders(s, dir)
      .select(col("o_custkey").as("c_custkey")).distinct()
      .withColumn("present", lit(true))
    // probe with every customer PLUS a shifted guaranteed-absent twin
    // per customer (keys live far below 10⁶ at any bench sf), so the
    // false-positive denominator is never empty
    val probes = Tables.customer(s, dir)
      .select(explode(array(col("c_custkey"),
        col("c_custkey") + 1000000L)).as("c_custkey"))
      .join(present, Seq("c_custkey"), "left")
      .na.fill(false, Seq("present"))
    // hash each probe position ONCE into a column, then test its bit
    // (inlining the md5 into both div and mod would double the digest
    // work on any non-CSE evaluation path)
    val posCols = (0 until k).map { r =>
      expr(s"CAST(conv(substring(md5(concat('$r', '|', " +
        s"CAST(c_custkey AS STRING))), 1, 15), 16, 10) AS BIGINT) % $m")
        .as(s"pos_$r")
    }
    val hit = (0 until k).map { r =>
      expr(s"((element_at(bits, CAST(pos_$r div 64 AS INT) + 1) " +
        s">> CAST(pos_$r % 64 AS INT)) & 1) = 1")
    }.reduce(_ && _)
    probes.crossJoin(broadcast(filt))
      .select(col("c_custkey") +: col("present") +: col("bits") +: posCols: _*)
      .select(col("c_custkey"), col("present"), hit.as("in_bloom"))
      .agg(count(lit(1)).as("n_probes"),
        sum(when(col("present"), 1L).otherwise(0L)).as("n_present"),
        sum(when(col("in_bloom"), 1L).otherwise(0L)).as("n_bloom_hits"),
        sum(when(col("in_bloom") && !col("present"), 1L).otherwise(0L))
          .as("n_false_pos"),
        sum(when(!col("in_bloom") && col("present"), 1L).otherwise(0L))
          .as("n_missed"))
      .select(col("n_probes"), col("n_present"), col("n_bloom_hits"),
        col("n_false_pos"), col("n_missed"),
        round(col("n_false_pos").cast("double") /
          (col("n_probes") - col("n_present")), 6).as("fp_rate"))
  }

  val bloomOwnSql: String =
    """WITH bk AS (SELECT DISTINCT o_custkey FROM orders),
      |r4 AS (SELECT unnest(range(0, 4)) AS r),
      |pos AS (SELECT DISTINCT CAST(concat('0x', substring(md5(concat(
      |      CAST(r AS VARCHAR), '|', CAST(o_custkey AS VARCHAR))), 1, 15))
      |      AS BIGINT) % 65536 AS p
      |    FROM bk CROSS JOIN r4),
      |pk AS (SELECT unnest([c_custkey, c_custkey + 1000000]) AS c_custkey
      |    FROM customer),
      |probe AS (SELECT pk.c_custkey,
      |      (bk.o_custkey IS NOT NULL) AS present
      |    FROM pk LEFT JOIN bk ON bk.o_custkey = pk.c_custkey),
      |pp AS (SELECT c_custkey, CAST(concat('0x', substring(md5(concat(
      |      CAST(r AS VARCHAR), '|', CAST(c_custkey AS VARCHAR))), 1, 15))
      |      AS BIGINT) % 65536 AS p
      |    FROM probe CROSS JOIN r4),
      |ph AS (SELECT pp.c_custkey, count(pos.p) AS nhit
      |    FROM pp LEFT JOIN pos ON pp.p = pos.p GROUP BY pp.c_custkey),
      |v AS (SELECT probe.c_custkey, probe.present,
      |      (ph.nhit = 4) AS in_bloom
      |    FROM probe JOIN ph ON probe.c_custkey = ph.c_custkey)
      |SELECT count(*) AS n_probes,
      |  CAST(sum(CASE WHEN present THEN 1 ELSE 0 END) AS BIGINT) AS n_present,
      |  CAST(sum(CASE WHEN in_bloom THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_bloom_hits,
      |  CAST(sum(CASE WHEN in_bloom AND NOT present THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_false_pos,
      |  CAST(sum(CASE WHEN present AND NOT in_bloom THEN 1 ELSE 0 END)
      |    AS BIGINT) AS n_missed,
      |  round(CAST(sum(CASE WHEN in_bloom AND NOT present THEN 1 ELSE 0 END)
      |    AS DOUBLE) / (count(*) - sum(CASE WHEN present THEN 1 ELSE 0 END)),
      |    6) AS fp_rate
      |FROM v""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bloom_own" -> (bloomOwn _),
    "q_hll_distinct" -> (hllDistinct _),
    "q_cms_topk" -> (cmsTopk _),
    "q_kmv_distinct" -> (kmvDistinct _),
    "q_json_roundtrip" -> (jsonRoundtrip _),
    "q_percentile_approx" -> (percentileApprox _),
    "q_stats_builtin" -> (statsBuiltin _),
    "q_freq_items" -> (freqItems _),
    "q_approx_distinct" -> (approxDistinct _),
    "q_vector_centroids" -> (vectorCentroids _),
    "q_ann_lsh" -> (annLsh _),
    "q_ann_ivf" -> (annIvf _),
    "q_ann_pq" -> (annPq _),
    "q_ann_ivfpq" -> (annIvfPq _),
    "q_compress_ratio" -> (compressRatio _),
    "q_fnv_fingerprint" -> (fnvFingerprint _),
    "q_multimodal_features" -> (multimodalFeatures _),
    "q_multimodal_decode" -> (multimodalDecode _),
  )

  /** q_json_roundtrip, q_stats_builtin, q_multimodal_features, and
    * q_fnv_fingerprint get real oracles (see their scaladocs). The
    * remaining entries have no DuckDB-expressible oracle (sketches,
    * LSH/IVF, engine-specific float32 accumulations, deflate); the
    * driver falls back to a rows-only check and the real assertions
    * live in ScalaTest. */
  val oracle: Map[String, String] = Map(
    // FNV-1a 64: fold the UTF-8 byte stream through (h ^ b) * prime
    // mod 2^64 in HUGEINT, then reinterpret as signed BIGINT. ascii()
    // yields the code point, which equals the byte only for ASCII —
    // exact on this corpus (documents.text is ASCII by construction;
    // a non-ASCII doc would diverge here, not in the engine).
    "q_fnv_fingerprint" ->
      """SELECT doc_id,
        |  CAST(CASE WHEN h >= 9223372036854775808::HUGEINT
        |            THEN h - 18446744073709551616::HUGEINT
        |            ELSE h END AS BIGINT) AS fp64
        |FROM (
        |  SELECT doc_id,
        |    list_reduce(
        |      list_prepend(14695981039346656037::HUGEINT,
        |        [CAST(ascii(substring(text, i, 1)) AS HUGEINT)
        |         FOR i IN range(1, length(text) + 1)]),
        |      (h, b) -> ((xor(CAST(h AS UBIGINT), CAST(b AS UBIGINT)))::HUGEINT
        |                   * 1099511628211::HUGEINT)
        |                 % 18446744073709551616::HUGEINT) AS h
        |  FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q_bloom_own" -> bloomOwnSql,
    "q_hll_distinct" -> hllDistinctSql,
    "q_cms_topk" -> cmsTopkSql,
    "q_kmv_distinct" -> kmvDistinctSql,
    "q_json_roundtrip" ->
      """SELECT event_id, event_type, value FROM events
        |ORDER BY event_id""".stripMargin,
    "q_stats_builtin" ->
      // Spark's population skewness/kurtosis recomputed from explicit
      // central-moment sums (DuckDB's builtins are sample-corrected).
      """WITH a AS (SELECT l_returnflag AS f, count(*) AS n, avg(l_quantity) AS mx
        |           FROM lineitem GROUP BY 1),
        |m AS (SELECT li.l_returnflag AS f, max(a.n) AS n,
        |        sum((l_quantity - mx) * (l_quantity - mx)) AS m2,
        |        sum((l_quantity - mx) * (l_quantity - mx) * (l_quantity - mx)) AS m3,
        |        sum((l_quantity - mx) * (l_quantity - mx) * (l_quantity - mx)
        |          * (l_quantity - mx)) AS m4
        |      FROM lineitem li JOIN a ON li.l_returnflag = a.f GROUP BY 1),
        |c AS (SELECT l_returnflag AS f,
        |        corr(l_quantity, l_extendedprice) AS corr_qp,
        |        covar_samp(l_quantity, l_extendedprice) AS covar_qp
        |      FROM lineitem GROUP BY 1)
        |SELECT m.f AS l_returnflag,
        |  round(sqrt(m2 / (n - 1)), 4) AS sd_qty,
        |  round(m2 / (n - 1), 4) AS var_qty,
        |  round(c.corr_qp, 4) AS corr_qp,
        |  round(c.covar_qp, 4) AS covar_qp,
        |  round(sqrt(n) * m3 / (m2 * sqrt(m2)), 4) AS skew_qty,
        |  round(n * m4 / (m2 * m2) - 3, 4) AS kurt_qty
        |FROM m JOIN c ON m.f = c.f ORDER BY l_returnflag""".stripMargin,
    "q_multimodal_features" ->
      // strlen = byte length in DuckDB; md5 over the same UTF-8 bytes
      // Spark hashes after the binary cast.
      """SELECT doc_id AS media_id,
        |  CAST(strlen(text) AS INT) AS n_bytes,
        |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END AS kind,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY media_id""".stripMargin,
    "q_multimodal_decode" ->
      // the oracle recomputes the dims the Spark side must RECOVER by
      // actually decoding its own PNG/JPEG encodes
      """SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpg' END AS codec,
        |  CAST(n_chars % 31 + 1 AS INT) AS width,
        |  CAST(n_chars % 17 + 1 AS INT) AS height,
        |  CAST((n_chars % 31 + 1) * (n_chars % 17 + 1) AS INT) AS n_pixels
        |FROM documents WHERE doc_id % 29 = 0 ORDER BY doc_id""".stripMargin,
  )
}
