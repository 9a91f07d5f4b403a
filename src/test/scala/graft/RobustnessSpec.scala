package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Similarity, TextAnalysis}

/** Degenerate-input robustness: empty corpora, sub-shingle texts,
  * empty strings, and single-element blocks must flow through every
  * operator without throwing (at 100 TB some partition always contains
  * the weird rows). */
class RobustnessSpec extends SparkSpec {

  private def docsOf(rows: (Long, String)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "text")
  }

  test("dedup family tolerates empty and sub-shingle documents") {
    val docs = docsOf((0L, ""), (1L, "one"), (2L, "two words"),
      (3L, "three words here"))
    assert(Dedup.exact(docs, col("text"), col("doc_id")).count() == 4)
    // only doc 3 has >= 3 words; no pairs anywhere — but no crashes
    assert(Dedup.shingles(docs).count() == 1)
    assert(Dedup.minhashCandidates(
      Dedup.minhashSignatures(Dedup.shingles(docs), 16), 4).count() == 0)
    assert(Dedup.ngramJaccardPairs(docs, 3, 0.1).count() == 0)
    // simhash: doc 0 tokenizes to nothing and drops out; others hash
    assert(Dedup.simhash(docs, 32).count() == 3)
    assert(Dedup.simhashCandidates(Dedup.simhash(docs, 32), 3).count() >= 0)
    assert(Dedup.dedupClusters(
      Dedup.ngramJaccardPairs(docs, 3, 0.1).select(col("doc_id_a"), col("doc_id_b")))
      .count() == 0)
  }

  test("empty corpus flows through text analysis and dedup") {
    val empty = docsOf()
    assert(TextAnalysis.quality(empty).count() == 0)
    assert(TextAnalysis.langId(empty).count() == 0)
    assert(TextAnalysis.tokenCounts(empty).count() == 0)
    assert(Dedup.exact(empty, col("text"), col("doc_id")).count() == 0)
    assert(Dedup.shingles(empty).count() == 0)
  }

  test("round-7 dedup extensions tolerate degenerate pair sets") {
    val docs = docsOf((0L, ""), (1L, "one"), (2L, "two words"),
      (3L, "three words here"))
    val noPairs = Dedup.ngramJaccardPairs(docs, 3, 0.1)
      .select(col("doc_id_a"), col("doc_id_b"))
    // star contraction on an empty graph converges to an empty labeling
    assert(Dedup.dedupClustersStar(noPairs).count() == 0)
    // sub-band signatures yield zero bands, not wrong candidates
    assert(Dedup.minhashCandidates(
      Dedup.minhashSignatures(Dedup.shingles(docs), 2), rowsPerBand = 4)
      .count() == 0)
    // shingleProfiles drops sub-shingle docs (only doc 3 has ≥3 words)
    val prof = Dedup.shingleProfiles(docs, 3, 16)
    assert(prof.count() == 1)
    spark.catalog.clearCache()
  }

  test("similarity search tolerates empty probe and candidate sets") {
    import spark.implicits._
    val emb = Seq((0L, Seq(1f, 2f)), (1L, Seq(2f, 1f)))
      .toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val none = emb.filter(col("vec_id") < 0)
    assert(Similarity.bruteForceTopK(none, emb, 3).count() == 0)
    assert(Similarity.bruteForceTopK(emb, none, 3).count() == 0)
    assert(Similarity.lshTopK(none, emb, 3, bits = 2, tables = 2).count() == 0)
    // IVF (needs a label column — use the fixture): empty probe set
    // flows through quantizer training + list search to an empty result
    val fix = Tables.embeddings(spark, sfDir)
    assert(Similarity.ivfTopK(fix.filter(col("vec_id") < 0), fix, 5).count() == 0)
  }

  test("incremental runner on an empty source is a no-op") {
    val out = tempDir("graft-empty")
    val src = Tables.orders(spark, sfDir).filter(col("o_orderkey") < 0)
    val runner = new graft.etl.IncrementalRunner(spark,
      new graft.etl.StateStore(spark, s"$out/state"),
      new graft.etl.ParquetRangeSink(s"$out/data"))
    assert(runner.run(src, "orders", "o_orderkey").isEmpty)
  }

  test("GraftExtensions injects both functions without error") {
    // getOrCreate would reuse the suite session (extensions conf is
    // builder-time only), so apply the extension object directly and
    // verify the injections registered; the expressions themselves are
    // known-answer tested in SimilaritySpec.
    val ext = new org.apache.spark.sql.SparkSessionExtensions
    new graft.functions.GraftExtensions()(ext)
    // and the registered SQL path produces the same value as eval
    graft.functions.GraftFunctions.register(spark)
    val h = spark.sql("SELECT fnv64('a') AS h").collect().head.getLong(0)
    assert(h == 0xaf63dc4c8601ec8cL)
  }
}
