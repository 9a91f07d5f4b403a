package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Staged, Tables}
import graft.operators.Dedup

/** The documents table's shingle artifacts, staged ONCE per process
  * and fixture dir — the cross-query sharing layer for the dedup-audit
  * family (near-dup pairs, clusters, star contraction, canonical pick,
  * hop depth, family sizes, threshold sweep, LSH recall/error audits,
  * similarity measures, split leakage, source overlap, containment):
  * FOURTEEN registered queries all start from the same corpus md5
  * pass, and each used to redo it from scratch.
  *
  * Two staged relations:
  *  - [[profiles]] — `Dedup.shingleProfiles(documents, 3, 16)`:
  *    per-doc (hs = distinct 60-bit shingle hashes, sig = 16-perm
  *    MinHash), ONE fused digest pass over the corpus.
  *  - [[overlap3]] — the candidate-pair overlap counts
  *    (doc_id_a, doc_id_b, n_a, n_b, inter), derived from the staged
  *    profiles' hs sets (ShingleProfile.hs is bit-identical to
  *    NgramHashes — DedupSpec asserts it), so the md5 pass is not
  *    repeated even once.
  *
  * Unlike [[TradeGraph]]'s collected metadata, these relations are
  * DATA-SCALE (they grow with the corpus), so they stage to parquet,
  * not driver memory: the first consumer computes and writes, the rest
  * re-read the staged files. That is exactly what a 100 TB curation
  * pipeline does — materialize the signature and candidate-pair tables
  * once, then run every audit over them. Both are memoized through
  * [[graft.Staged]]; recomputation is deterministic (md5 hashes), so
  * every build stages identical values.
  */
object ShingleStage {

  /** Staged per-doc shingle profiles (doc_id, hs, sig) for n = 3,
    * 16 permutations — the one parameterization every registered
    * consumer uses. */
  def profiles(s: SparkSession, dir: String): DataFrame =
    Staged.parquet(s, "shingle_profiles3x16", dir) {
      Dedup.shingleProfiles(
        Tables.documents(s, dir).select(col("doc_id"), col("text")), 3, 16)
    }

  /** Staged shingle-overlap pair relation for n = 3, derived from
    * [[profiles]] — same rows as
    * `Dedup.shingleOverlapCounts(documents, 3)`. */
  def overlap3(s: SparkSession, dir: String): DataFrame =
    Staged.parquet(s, "shingle_overlap3", dir) {
      val sh = profiles(s, dir)
        .select(col("doc_id"), size(col("hs")).as("n_sh"),
          explode(col("hs")).as("shash"))
      sh.select(col("shash"), col("doc_id").as("doc_id_a"), col("n_sh").as("n_a"))
        .join(sh.select(col("shash"), col("doc_id").as("doc_id_b"),
          col("n_sh").as("n_b")), Seq("shash"))
        .filter(col("doc_id_a") < col("doc_id_b"))
        .groupBy(col("doc_id_a"), col("doc_id_b"), col("n_a"), col("n_b"))
        .agg(count(lit(1)).as("inter"))
    }
}
