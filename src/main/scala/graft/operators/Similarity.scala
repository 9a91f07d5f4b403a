package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector similarity search over an ArrayType(FloatType) embedding
  * column: brute-force cosine top-k as the exact baseline, and three
  * approximate 100 TB scale paths — LSH (bucketing), IVF (inverted
  * lists), PQ (compressed codes) — plus their two-level composition
  * IVF-PQ (coarse lists pruned first, PQ codes scored inside the
  * probed lists only).
  *
  * The dot product accumulates left-to-right in double via the
  * higher-order `aggregate(zip_with(...))` — bit-identical to DuckDB's
  * `list_dot_product` over DOUBLE[], which makes raw cosine values
  * oracle-safe without rounding.
  *
  * Ranking shape: every scorer keeps k per probe via the
  * [[TopKPairsD]] bounded-heap Aggregator — a partial/final aggregate
  * that combines each partition down to ≤k rows per probe BEFORE the
  * exchange. The window row_number() form this replaced shuffled every
  * scored (probe, candidate) pair; at 100 TB that is the difference
  * between shuffling |probes|×|candidates| scored rows and k rows per
  * (probe × partition). Identical output under the total order
  * (cosine DESC, neighbor_id ASC) — the window-based DuckDB oracle for
  * q_sim_topk stays exact.
  *
  * Cache contract: index builders persist intermediates only for the
  * duration of the build (training passes re-read them); everything is
  * unpersisted before the result is returned, so running any returned
  * plan leaves zero cached blocks behind (CacheScopeSpec). The final
  * action recomputes one narrow assignment/encode pass instead of
  * reading the build-time cache — a deliberate trade of one cheap pass
  * for a leak-free library contract.
  */
object Similarity {

  /** Left-to-right double-precision dot product of two float arrays —
    * the codegen'd native expression (see graft.functions
    * .DotProductF32), no per-element lambda dispatch. Callers must
    * hold a session with GraftFunctions registered (operators entered
    * via a DataFrame call [[ensureRegistered]] first). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.functions.call_function("dot_f32", a, b)

  private[operators] def ensureRegistered(df: DataFrame): Unit =
    graft.functions.GraftFunctions.register(df.sparkSession)

  /** Cosine similarity (computes norms inline; prefer pre-computed
    * norm columns when scoring many pairs per vector). */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Keep the k best (cosine DESC, neighbor_id ASC) rows per probe via
    * the bounded-heap partial/final aggregate — map-side combines to
    * ≤k rows per (probe × partition), so the exchange carries heaps,
    * not the scored pair stream. Expects (probe_id, neighbor_id,
    * cosine); emits (probe_id, rnk, neighbor_id, cosine).
    *
    * NaN cosines (a zero-norm probe or candidate — the defect
    * embeddingAudit exists to flag) are EXCLUDED by definition before
    * the heap: the heap's strict comparator would silently skip them
    * anyway, but window/sort formulations (and SQL oracles) rank NaN
    * largest, so without the explicit filter the two formulations
    * would diverge exactly on the rows that are meaningless. */
  private def heapTopK(scored: DataFrame, k: Int): DataFrame = {
    val agg = udaf(new TopKPairsD(k))
    scored
      .filter(!isnan(col("cosine")))
      .groupBy(col("probe_id"))
      .agg(agg(col("cosine"), col("neighbor_id")).as("top"))
      .select(col("probe_id"), explode(col("top")).as("t"))
      .select(col("probe_id"), col("t._1").cast("int").as("rnk"),
        col("t._3").as("neighbor_id"), col("t._2").as("cosine"))
  }

  /** Exact brute-force cosine top-k: every probe scored against every
    * candidate. Probes are broadcast (the probe set is small by
    * construction); candidates stream partition-parallel, so the cost
    * is |probes| × |candidates| FLOPs with no shuffle of the candidate
    * table — and the heap aggregate means the only exchange carries
    * ≤k rows per (probe × partition). Use only for bounded probe
    * sets — the scale paths are [[lshTopK]]/[[ivfTopK]]/[[pqTopK]]. */
  def bruteForceTopK(probes: DataFrame, candidates: DataFrame, k: Int): DataFrame = {
    ensureRegistered(probes)
    val p = probes.select(col("vec_id").as("probe_id"),
      col("embedding").as("pe"),
      sqrt(dot(col("embedding"), col("embedding"))).as("pn"))
    // widen: a single-row-group candidate file would otherwise score
    // every (probe, candidate) pair on one core (see Tables.widen).
    val c = graft.Tables.widen(candidates).select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"),
      sqrt(dot(col("embedding"), col("embedding"))).as("cn"))
    val scored = c.crossJoin(broadcast(p))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", dot(col("pe"), col("ce")) / (col("pn") * col("cn")))
    heapTopK(scored, k)
  }

  /** Deterministic pseudo-random hyperplane component for global plane
    * g, dimension d — derived from md5 so buckets are reproducible
    * across runs with no RNG state. */
  private[operators] def planeComponent(g: Int, d: Int): Float = {
    val digest = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$g|$d".getBytes("UTF-8"))
    val hex = digest.take(4).map(b => f"$b%02x").mkString.take(7)
    (java.lang.Long.parseLong(hex, 16).toDouble / 268435456.0 - 0.5).toFloat
  }

  /** Deterministic random-hyperplane LSH: `tables` independent hash
    * tables of `bits` sign bits each (one output row per (vector,
    * table)). A pair is a candidate if it collides in ANY table
    * (OR-amplification): per-table collision prob is s(θ)^bits,
    * overall 1-(1-s^bits)^tables — the multi-table union lifts recall
    * without coarsening the buckets.
    *
    * Scale shape: the plane matrix is tiny and ships as literals
    * inside the codegen'd projection (dot_f32 against a constant
    * array) — bucketing is a narrow map over the corpus, one pass,
    * tables×bits fused dot products per vector; no shuffle until the
    * candidate join. */
  def lshBuckets(emb: DataFrame, bits: Int = 6, tables: Int = 8,
                 dims: Int = 64): DataFrame = {
    ensureRegistered(emb)
    val planes = Array.tabulate(tables * bits)(g =>
      Array.tabulate(dims)(d => planeComponent(g, d)))
    // One fused expression for all tables×bits projections (single
    // codegen unit; plane matrix shipped as a reference object).
    // Registered fresh each call: the closure captures these planes.
    emb.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_lsh_buckets",
      exprs => graft.functions.LshBucketsF32(exprs.head, planes, bits, tables),
      "scala_udf")
    // the full per-table bucket vector (`bkts`, tables ints) rides
    // along with each exploded (t, bucket) row: it is what lets
    // lshTopK keep a pair only in its FIRST colliding table map-side
    graft.Tables.widen(emb).withColumn("bkts",
        org.apache.spark.sql.functions.call_function("graft_lsh_buckets", col("embedding")))
      .select(col("*"), posexplode(col("bkts")).as(Seq("t", "bucket")))
  }

  // ---------------------------------------------------------------
  // Coarse quantizer (shared by ivfTopK and ivfPqTopK)
  // ---------------------------------------------------------------

  /** Driver-pinned centroid set: (cid, quantized components, c·c). */
  private type Cents = (Array[Long], Array[Array[Float]], Array[Double])

  /** The most inverted lists (seed values) IVF trains or loads. */
  private val maxLists = 1024

  /** The most codebook rows (nSub × codesPerSub) an index loads. */
  private val maxBookRows = 1 << 16

  /** 1e-6 fixed-point quantization of a mean vector plus its squared
    * norm — the ONE shared quantum both the coarse quantizer and the
    * PQ codebooks pin their determinism contracts to (a drift between
    * two inlined copies would silently break one path's stability). */
  private def quantize(xs: Seq[Double]): (Array[Float], Double) = {
    val q = xs.map(x => (math.floor(x * 1e6) / 1e6).toFloat).toArray
    var acc = 0.0
    var i = 0
    while (i < q.length) { acc += q(i).toDouble * q(i).toDouble; i += 1 }
    (q, acc)
  }

  private def collectCents(grouped: DataFrame, max: Int, what: String): Cents = {
    val rows = graft.Bounded.collect(grouped, max, what).map { r =>
      val (q, acc) = quantize(r.getSeq[Double](1))
      (r.getLong(0), q, acc)
    }.sortBy(_._1) // ascending cid: strict-less insertion ties to lowest cid
    (rows.map(_._1), rows.map(_._2), rows.map(_._3))
  }

  /** Nearest-`n`-centroid assignment as a pure narrow projection: the
    * centroid table ships INSIDE the expression as a reference object
    * ([[graft.functions.NearestCentroidsF32]], the LshBucketsF32
    * pattern) — no crossJoin row amplification, no argmin shuffle.
    * Components are 1e-6 fixed-point quantized (see [[ivfTopK]]
    * scaladoc): kills last-ulp wobble from summation order so
    * assignments don't flip across partitionings; c·c is precomputed
    * per centroid so scoring is one dot product per (vector,
    * centroid). */
  private def assign(df: DataFrame, embCol: String, cents: Cents, n: Int): Column = {
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_nearest_cents",
      exprs => graft.functions.NearestCentroidsF32(
        exprs.head, cents._1, cents._2, cents._3, n),
      "scala_udf")
    call_function("graft_nearest_cents", col(embCol))
  }

  /** Train the coarse quantizer over `cand` (columns neighbor_id, ce,
    * seed): k-means seeded from the label-block means (the VectorMean
    * Aggregator — a partial/final aggregate whose buffer is dims×8
    * bytes regardless of list size) plus `iterations` Lloyd steps.
    * Each Lloyd step is ONE corpus assignment pass (assign, then means
    * — the means shuffle carries map-side-combined dims×8-byte
    * buffers, nlist rows per partition). The FINAL step's assignment
    * IS the inverted-list table, and the final centroids are exactly
    * those lists' means — each list's representative is its true mean,
    * and the index costs `iterations` corpus passes, not
    * iterations+1. Returns (final centroids, assigned lists); `lists`
    * is persisted — the CALLER must unpersist it when done. */
  private def trainCoarse(cand: DataFrame, dims: Int, iterations: Int): (Cents, DataFrame) = {
    require(iterations >= 1, "coarse quantizer needs at least one Lloyd step")
    val vm = udaf(new VectorMean(dims))
    var cents = collectCents(cand.groupBy(col("seed").as("cid"))
      .agg(vm(col("ce")).as("centroid")), maxLists, "seed centroids (maxLists)")
    var lists = cand.select(col("neighbor_id"), col("ce"),
      element_at(assign(cand, "ce", cents, 1), 1).as("cid")).persist()
    for (i <- 1 to iterations) {
      cents = collectCents(lists.groupBy(col("cid")).agg(vm(col("ce")).as("centroid")),
        cents._1.length, "centroids (one per list) in a Lloyd step")
      if (i < iterations) {
        val prev = lists
        lists = cand.select(col("neighbor_id"), col("ce"),
          element_at(assign(cand, "ce", cents, 1), 1).as("cid")).persist()
        prev.unpersist()
      }
    }
    (cents, lists)
  }

  /** IVF (inverted-file) approximate top-k — the other classic ANN
    * scale path next to [[lshTopK]]: train a coarse quantizer, assign
    * every vector to its nearest centroid's inverted list, and search
    * only the `nprobe` lists nearest each probe.
    *
    * Centroid components are quantized to 1e-6 fixed point before
    * every assignment pass: VectorMean accumulates doubles in shuffle
    * order, so raw means can wobble in the last ulp across
    * partitionings — after quantization an assignment can only flip
    * if a d2 tie lands exactly on the quantization boundary (ties on
    * equal d2 break on cid). The index is therefore stable across
    * reruns of the same plan and, in practice, across partitionings;
    * absolute cross-partitioning determinism would need the full
    * fixed-point accumulation of `vectorCentroidsFp`.
    *
    * Scale shape: the centroid table stays tiny and driver-pins; the
    * corpus is touched in narrow passes (assignment) and the search
    * join is per-list, so each query scores ~nprobe/nlist of the
    * corpus. At 100 TB the assigned corpus would be written bucketed
    * by `cid` so the search join needs no shuffle at all.
    *
    * Thread-safety contract (also [[pqTopK]]/[[ivfPqTopK]]): each
    * training round re-registers a fixed-name session temp function
    * whose closure holds the CURRENT centroids, and relies on
    * DataFrame analysis being EAGER to bake that version into the plan
    * before the next registration. That is sound for the
    * single-threaded-per-session driver pattern every entry point here
    * uses; two threads building index queries CONCURRENTLY on one
    * SparkSession could interleave registrations and must use separate
    * sessions (`spark.newSession()` gives each its own function
    * registry). */
  def ivfTopK(probes: DataFrame, candidates: DataFrame, k: Int,
              nprobe: Int = 2, iterations: Int = 1, dims: Int = 64,
              seedCol: String = "label"): DataFrame =
    withCoarse(candidates, iterations, dims, seedCol) { (_, cents, lists) =>
      val p = probes.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val pAssigned = p.select(col("probe_id"), col("pe"),
        explode(assign(p, "pe", cents, nprobe)).as("cid"))
      // each candidate lives in exactly one list, so (probe, neighbor)
      // pairs are unique even with nprobe > 1 — no dedup needed.
      val scored = lists.join(broadcast(pAssigned), Seq("cid"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn("cosine", cosine(col("pe"), col("ce")))
      heapTopK(scored, k)
    }

  /** Shared coarse-quantizer scaffold of every IVF path: the de-nulled
    * corpus projection `cand`, the trained centroids and the persisted
    * inverted lists, released once `f` has built its result. */
  private def withCoarse[T](candidates: DataFrame, iterations: Int, dims: Int,
      seedCol: String)(f: (DataFrame, Cents, DataFrame) => T): T = {
    require(candidates.schema(seedCol).dataType
        .isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"coarse quantizer seed column '$seedCol' must be numeric (cast to " +
        "bigint for cluster ids); a non-numeric column would silently " +
        "collapse the quantizer to one NULL cluster")
    ensureRegistered(candidates)
    // The corpus projection carries the seed label so the seed
    // centroids and every Lloyd pass read the SAME cached relation —
    // one parquet scan per training action. Rows with a NULL
    // embedding or NULL seed are un-indexable and are dropped here
    // (a NULL value passes the TYPE check above but would NPE the
    // driver-side centroid collect).
    val cand = graft.Tables.widen(candidates)
      .filter(col("embedding").isNotNull && col(seedCol).isNotNull)
      .select(
        col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col(seedCol).cast("bigint").as("seed")).persist()
    try {
      val (cents, lists) = trainCoarse(cand, dims, iterations)
      try f(cand, cents, lists) finally lists.unpersist()
    } finally cand.unpersist()
  }

  // ---------------------------------------------------------------
  // Product quantization (shared by pqTopK and ivfPqTopK)
  // ---------------------------------------------------------------

  /** Driver-pinned PQ codebooks: books(sub)(code) = centroid, plus the
    * per-centroid squared norms. */
  private type Books = (Array[Array[Array[Float]]], Array[Array[Double]])

  /** Train per-subspace codebooks over `cand` (column ce): exactly
    * [[ivfTopK]]'s quantizer per subspace — deterministic seed
    * ((vec_id + sub) mod codesPerSub groups), then `iterations` Lloyd
    * rounds where ONE narrow encode pass + ONE exploded (sub, code)-
    * keyed VectorMean shuffle updates all subspace codebooks together;
    * centroids quantize to 1e-6 fixed point per round (same last-ulp
    * argument as IVF) and pin driver-side — they ARE the index
    * metadata. */
  private def trainBooks(cand: DataFrame, nSub: Int, codesPerSub: Int,
                         subDim: Int, iterations: Int): Books = {
    val vm = udaf(new VectorMean(subDim))
    def collectBooks(assigned: DataFrame): Books = {
      // assigned: (sub, code, subvec) → per-(sub, code) mean,
      // quantized by the SAME shared quantum as the coarse quantizer
      val rows = graft.Bounded.collect(assigned.groupBy(col("sub"), col("code"))
          .agg(vm(col("subvec")).as("cent")),
        nSub * codesPerSub, "codebook centroids (nSub × codesPerSub)")
      val books = Array.fill(nSub, codesPerSub)(Array.fill(subDim)(0f))
      val c2 = Array.fill(nSub, codesPerSub)(0.0)
      rows.foreach { r =>
        val (q, n2) = quantize(r.getSeq[Double](2))
        books(r.getInt(0))(r.getInt(1)) = q
        c2(r.getInt(0))(r.getInt(1)) = n2
      }
      (books, c2)
    }
    // sub-vector slices, exploded once per training pass
    val subvecs = (0 until nSub).map(s =>
      struct(lit(s).as("sub"),
        slice(col("ce"), s * subDim + 1, subDim).as("subvec")))
    // seed: deterministic (vec_id + sub) mod k groups
    var books = collectBooks(cand
      .select(col("neighbor_id"), explode(array(subvecs: _*)).as("e"))
      .select(col("e.sub").as("sub"),
        pmod(col("neighbor_id") + col("e.sub"), lit(codesPerSub)).cast("int").as("code"),
        col("e.subvec").as("subvec")))
    for (_ <- 1 to iterations) {
      books = collectBooks(cand
        .select(col("neighbor_id"), encodeCol(cand, "ce", books).as("codes"),
          explode(array(subvecs: _*)).as("e"))
        .select(col("e.sub").as("sub"),
          element_at(col("codes"), col("e.sub") + 1).as("code"),
          col("e.subvec").as("subvec")))
    }
    books
  }

  /** Nearest-code encoding as a codegen'd narrow projection
    * ([[graft.functions.PqCodesF32]]). */
  private def encodeCol(df: DataFrame, embCol: String, books: Books): Column = {
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pq_codes",
      exprs => graft.functions.PqCodesF32(exprs.head, books._1), "scala_udf")
    call_function("graft_pq_codes", col(embCol))
  }

  /** Asymmetric cosine (raw probe vs decoded codes,
    * [[graft.functions.PqCosineF32]]) — precision loss applies only to
    * the corpus side. */
  private def pqCosineCol(df: DataFrame, probeCol: String, codesCol: String,
                          books: Books): Column = {
    df.sparkSession.sessionState.functionRegistry.createOrReplaceTempFunction(
      "graft_pq_cosine",
      exprs => graft.functions.PqCosineF32(exprs(0), exprs(1), books._1, books._2),
      "scala_udf")
    call_function("graft_pq_cosine", col(probeCol), col(codesCol))
  }

  /** Product-quantization ANN — the MEMORY scale path next to
    * [[lshTopK]] (bucketing) and [[ivfTopK]] (inverted lists): encode
    * every corpus vector as `nSub` small codes (one per contiguous
    * subspace) — at the tuned 16 subspaces × 32 codes that is 16
    * 5-bit codes ≈ 10 bytes packed where the raw float32 row is 256,
    * a ~25× compression that keeps a 100 TB corpus's index
    * RAM-resident (recall@5 matches LSH on the fixture). Scoring is
    * ASYMMETRIC (raw probe vs decoded codes), so precision loss
    * applies only to the corpus side.
    *
    * Flat PQ scans the WHOLE encoded corpus per probe — honest as the
    * memory path at bench scale, but at 100 TB compose the coarse
    * stage in front: [[ivfPqTopK]] prunes to nprobe inverted lists
    * first and PQ-scores only those lists' codes. */
  def pqTopK(probes: DataFrame, candidates: DataFrame, k: Int,
             nSub: Int = 16, codesPerSub: Int = 32, iterations: Int = 2,
             dims: Int = 64): DataFrame = {
    require(dims % nSub == 0,
      s"dims=$dims must divide into nSub=$nSub subspaces — a floored " +
        "subDim would silently truncate the trailing dimensions out of " +
        "every code while probe norms still include them")
    ensureRegistered(candidates)
    val subDim = dims / nSub
    val cand = graft.Tables.widen(candidates)
      .filter(col("embedding").isNotNull)
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .persist()
    try {
      val books = trainBooks(cand, nSub, codesPerSub, subDim, iterations)
      val encoded = cand.select(col("neighbor_id"), encodeCol(cand, "ce", books).as("codes"))
      val p = probes.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val scored = encoded.crossJoin(broadcast(p))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn("cosine", pqCosineCol(encoded, "pe", "codes", books))
      heapTopK(scored, k)
    } finally cand.unpersist()
  }

  /** IVF-PQ — the two-level index that closes flat PQ's scale gap:
    * the coarse quantizer assigns every corpus vector to one of the
    * label-seeded inverted lists ONCE, vectors are PQ-encoded within
    * their lists, and a probe PQ-scores only the codes of its `nprobe`
    * nearest lists. Per-probe work drops from |corpus| code scans
    * (flat PQ) to ~nprobe/nlist of the corpus, while the index stays
    * ~25× compressed — the standard composition (Jégou et al.'s
    * IVFADC shape) re-expressed as two narrow projections + one
    * per-list broadcast join.
    *
    * Codebooks are trained on the raw corpus (not per-list residuals):
    * scores for surviving candidates are then IDENTICAL to flat PQ's,
    * so the only recall delta vs [[pqTopK]] is coarse-list pruning —
    * measured on the fixture in SimilaritySpec. Same determinism
    * contract as both parents (fixed-point centroids, seeded
    * assignments, total-order ranking). */
  def ivfPqTopK(probes: DataFrame, candidates: DataFrame, k: Int,
                nprobe: Int = 2, iterations: Int = 1,
                nSub: Int = 16, codesPerSub: Int = 32, pqIterations: Int = 2,
                dims: Int = 64, seedCol: String = "label"): DataFrame =
    withIvfPqTraining(candidates, nSub, codesPerSub, iterations,
        pqIterations, dims, seedCol) { (cents, lists, books) =>
      // the inverted-list file of a real deployment: (cid, id, codes)
      // — at 100 TB written bucketed by cid, ~10 bytes/row (the
      // persistent form IS [[buildIndex]]'s data relation).
      val encoded = lists.select(col("cid"), col("neighbor_id"),
        encodeCol(lists, "ce", books).as("codes"))
      val p = probes.filter(col("embedding").isNotNull)
        .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
      val pAssigned = p.select(col("probe_id"), col("pe"),
        explode(assign(p, "pe", cents, nprobe)).as("cid"))
      val scored = encoded.join(broadcast(pAssigned), Seq("cid"))
        .filter(col("probe_id") =!= col("neighbor_id"))
        .withColumn("cosine", pqCosineCol(encoded, "pe", "codes", books))
      heapTopK(scored, k)
    }

  /** Shared IVF-PQ training scaffold: [[withCoarse]] plus the
    * codebooks — then `f` consumes
    * (cents, lists, books) and the build-time caches release. ONE
    * definition of the pipeline, so the self-contained query path and
    * the persistent index builder cannot drift apart (SimilaritySpec's
    * search-from-disk ≡ in-memory equality is structural, not
    * copy-discipline — cf. the quantize() doc's warning about inlined
    * copies). */
  private def withIvfPqTraining[T](candidates: DataFrame, nSub: Int,
      codesPerSub: Int, iterations: Int, pqIterations: Int, dims: Int,
      seedCol: String)(f: (Cents, DataFrame, Books) => T): T = {
    require(dims % nSub == 0,
      s"dims=$dims must divide into nSub=$nSub subspaces (see pqTopK)")
    withCoarse(candidates, iterations, dims, seedCol) { (cand, cents, lists) =>
      f(cents, lists, trainBooks(cand, nSub, codesPerSub, dims / nSub, pqIterations))
    }
  }

  /** Persistent IVF-PQ index — the build-once / search-many split a
    * production deployment actually runs (every `*TopK` entry point
    * above retrains per call because the oracle gate needs
    * self-contained queries; a serving path must not). [[buildIndex]]
    * trains the coarse quantizer + codebooks ONCE and materializes
    * three parquet relations under `dir`:
    *
    *  - `data/` — (neighbor_id, codes) hive-partitioned by `cid`: one
    *    directory per inverted list, ~10 bytes/row, so a search that
    *    probes nprobe lists can prune to nprobe directories at plan
    *    time (the S14 dynamic-pruning layout applied to an ANN index);
    *  - `cents/` — (cid, cent, c2): the driver-pinnable coarse
    *    centroids (nlist rows);
    *  - `books/` — (sub, code, cent, c2): the PQ codebooks
    *    (nSub×codesPerSub rows).
    *
    * [[loadIndex]] re-pins the metadata (a metadata-scale collect —
    * nlist + 512 rows) and [[searchIndex]] runs the probe-side-only
    * plan: assign probes to lists with the pinned centroids, join the
    * partitioned data relation, PQ-score, heap top-k. No training
    * pass, no corpus-wide scan, and the stored codes/centroids
    * round-trip parquet floats exactly — SimilaritySpec asserts
    * search-from-disk ≡ the self-contained [[ivfPqTopK]] bit for bit. */
  def buildIndex(candidates: DataFrame, dir: String,
                 nSub: Int = 16, codesPerSub: Int = 32,
                 iterations: Int = 1, pqIterations: Int = 2,
                 dims: Int = 64, seedCol: String = "label"): Unit = {
    require(nSub * codesPerSub <= maxBookRows, s"nSub × codesPerSub = " +
      s"${nSub * codesPerSub} codebook rows, past the $maxBookRows loadIndex reads")
    withIvfPqTraining(candidates, nSub, codesPerSub, iterations,
        pqIterations, dims, seedCol) { (cents, lists, books) =>
      val s = candidates.sparkSession
      lists.select(col("neighbor_id"),
          encodeCol(lists, "ce", books).as("codes"), col("cid"))
        .write.mode("overwrite").partitionBy("cid").parquet(s"$dir/data")
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, IntegerType, LongType, StructField, StructType}
      s.createDataFrame(
        cents._1.indices.map(i => org.apache.spark.sql.Row(
          cents._1(i), cents._2(i).toSeq, cents._3(i))).asJava,
        StructType(Seq(
          StructField("cid", LongType),
          StructField("cent", ArrayType(FloatType)),
          StructField("c2", DoubleType))))
        .write.mode("overwrite").parquet(s"$dir/cents")
      val bookRows = for {
        sub <- books._1.indices; code <- books._1(sub).indices
      } yield org.apache.spark.sql.Row(
        sub, code, books._1(sub)(code).toSeq, books._2(sub)(code))
      s.createDataFrame(bookRows.asJava,
        StructType(Seq(
          StructField("sub", IntegerType),
          StructField("code", IntegerType),
          StructField("cent", ArrayType(FloatType)),
          StructField("c2", DoubleType))))
        .write.mode("overwrite").parquet(s"$dir/books")
    }
  }

  /** Driver-pinned index metadata re-read from a [[buildIndex]] dir. */
  final class Index private[Similarity] (
      private[Similarity] val dir: String,
      private[Similarity] val cents: Cents,
      private[Similarity] val books: Books)

  def loadIndex(spark: org.apache.spark.sql.SparkSession, dir: String): Index = {
    val cRows = graft.Bounded.collect(spark.read.parquet(s"$dir/cents"),
        maxLists, "index centroids (maxLists)")
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getDouble(2)))
      .sortBy(_._1)
    val cents: Cents = (cRows.map(_._1), cRows.map(_._2), cRows.map(_._3))
    val bRows = graft.Bounded.collect(spark.read.parquet(s"$dir/books"),
      maxBookRows, "index codebook centroids (nSub × codesPerSub)")
    val nSub = bRows.map(_.getInt(0)).max + 1
    val nCode = bRows.map(_.getInt(1)).max + 1
    val dims0 = bRows.head.getSeq[Float](2).length
    val b1 = Array.fill(nSub, nCode)(Array.fill(dims0)(0f))
    val b2 = Array.fill(nSub, nCode)(0.0)
    bRows.foreach { r =>
      b1(r.getInt(0))(r.getInt(1)) = r.getSeq[Float](2).toArray
      b2(r.getInt(0))(r.getInt(1)) = r.getDouble(3)
    }
    new Index(dir, cents, (b1, b2))
  }

  /** Probe-side-only search over a loaded index: no training action,
    * and the index scan is STATICALLY pruned to the probed lists'
    * directories — the probed cid set is metadata-scale by
    * construction (≤ min(nprobe·|probes|, nlist) values; the probe
    * relation is bounded in every caller), so collecting it and
    * pushing an IN filter turns the scan into a plan-time partition
    * prune (PartitionFilters carries the literal list — asserted in
    * SimilaritySpec) instead of a full-index read filtered at the
    * join. */
  def searchIndex(idx: Index, probes: DataFrame, k: Int,
                  nprobe: Int = 2): DataFrame = {
    ensureRegistered(probes)
    val s = probes.sparkSession
    val p = probes.filter(col("embedding").isNotNull)
      .select(col("vec_id").as("probe_id"), col("embedding").as("pe"))
    // pAssigned is read twice (the cid collect now, the broadcast side
    // when the caller runs the plan) but deliberately NOT persisted: a
    // persist would have to outlive this call to help the second
    // reader, and the recompute is one narrow projection over the
    // bounded probe relation — cheaper than handing the caller a cache
    // lifetime to manage.
    val pAssigned = p.select(col("probe_id"), col("pe"),
      explode(assign(p, "pe", idx.cents, nprobe)).as("cid"))
    val probed = graft.Bounded.collect(pAssigned.select(col("cid")).distinct(),
        idx.cents._1.length, "probed lists (nlist)")
      .map(_.getLong(0))
    val encoded = s.read.parquet(s"${idx.dir}/data")
      .filter(col("cid").isin(probed.map(Long.box): _*))
    val scored = encoded.join(broadcast(pAssigned), Seq("cid"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .withColumn("cosine", pqCosineCol(encoded, "pe", "codes", idx.books))
    heapTopK(scored, k)
  }

  def lshTopK(probes: DataFrame, candidates: DataFrame, k: Int,
              bits: Int = 6, tables: Int = 8): DataFrame = {
    // Multi-table collisions collapse MAP-SIDE via the canonical-
    // table predicate — a pair survives only in its FIRST colliding
    // table, tested on the two carried bucket vectors — instead of a
    // distinct() whose dedup exchange would ship the embedding
    // payloads per duplicate collision. Each surviving pair is scored
    // once and flows straight into the heap's map-side combine.
    val p = lshBuckets(probes, bits, tables).select(col("t"), col("bucket"),
      col("vec_id").as("probe_id"), col("embedding").as("pe"),
      col("bkts").as("p_bkts"))
    val c = lshBuckets(candidates, bits, tables).select(col("t"), col("bucket"),
      col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
      col("bkts").as("c_bkts"))
    val cand = c.join(broadcast(p), Seq("t", "bucket"))
      .filter(col("probe_id") =!= col("neighbor_id"))
      .filter(expr(
        "array_position(zip_with(p_bkts, c_bkts, (x, y) -> x = y), true) = t + 1"))
      .select(col("probe_id"), col("neighbor_id"), col("pe"), col("ce"))
    val scored = cand.withColumn("cosine", cosine(col("pe"), col("ce")))
    heapTopK(scored, k)
  }
}
