package graft

import org.apache.spark.sql.functions._

/** 100 TB posture evidence: pre-bucketing both sides of a recurring
  * fact-fact join on the join key removes the per-query shuffle — the
  * bucketed join plans with NO Exchange on either side. This is the
  * pattern a production deployment uses for the orders⋈lineitem style
  * joins that would otherwise shuffle terabytes per query. */
class BucketingSpec extends SparkSpec {

  test("date-partitioned layout prunes partitions at the scan") {
    val out = tempDir("graft-part")
    Tables.orders(spark, sfDir)
      .withColumn("order_year", year(col("o_orderdate")))
      .write.partitionBy("order_year").parquet(s"$out/orders_p")
    val q = spark.read.parquet(s"$out/orders_p")
      .filter(col("order_year") === 1997)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(order_year"), plan.take(1200))
    // pruned scan reads only the 1997 partition's rows
    val expected = Tables.orders(spark, sfDir)
      .filter(year(col("o_orderdate")) === 1997).count()
    assert(q.count() == expected)
  }

  test("bucketed co-located join plans without a shuffle exchange") {
    // warehouse dir is a static conf — tables land in ./spark-warehouse
    // (gitignored) and are dropped in the finally block.
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables.orders(spark, sfDir).write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("orders_b")
      Tables.lineitem(spark, sfDir)
        .withColumnRenamed("l_orderkey", "o_orderkey").write
        .bucketBy(4, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("lineitem_b")
      val joined = spark.table("orders_b")
        .join(spark.table("lineitem_b"), "o_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(1500))
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(1500)}")
      // and it is still correct
      assert(joined.count() == Tables.lineitem(spark, sfDir).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("standing banded dedup index: the index side joins with no re-shuffle") {
    // The 100 TB incremental-dedup shape Dedup.minhashCandidatesBetween
    // documents: the accumulated corpus's banded signatures are WRITTEN
    // ONCE bucketed by (band, band_sig); each arriving batch computes
    // its own bands and probes the standing index. Assert the executed
    // plan re-shuffles ONLY the new batch — the index side reads
    // co-located buckets with zero Exchange — and that the candidate
    // set is identical to the in-memory incremental path.
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val docs = Tables.documents(spark, sfDir)
      val sigs = graft.operators.Dedup.minhashSignaturesNarrow(docs)
      val bands = sigs.filter(size(col("sig")) >= 4)
        .select(col("doc_id"),
          explode(expr("sequence(0, size(sig) div 4 - 1)")).as("band"), col("sig"))
        .select(col("doc_id"), col("band"),
          expr("array_join(slice(sig, band * 4 + 1, 4), ',')").as("band_sig"))
      bands.filter(col("doc_id") % 10 =!= 0)
        .write.bucketBy(8, "band", "band_sig").sortBy("band", "band_sig")
        .mode("overwrite").saveAsTable("dedup_index_b")
      val idx = spark.table("dedup_index_b")
        .select(col("band"), col("band_sig"), col("doc_id").as("old_id"))
      val probe = bands.filter(col("doc_id") % 10 === 0)
        .select(col("band"), col("band_sig"), col("doc_id").as("new_id"))
      val joined = probe.join(idx, Seq("band", "band_sig"))
      val smj = joined.queryExecution.executedPlan
        .collectFirst { case j: SortMergeJoinExec => j }
        .getOrElse(fail("expected a SortMergeJoin over the standing index"))
      val (idxSide, probeSide) =
        if (smj.right.toString.contains("dedup_index_b")) (smj.right, smj.left)
        else (smj.left, smj.right)
      assert(idxSide.collect { case e: ShuffleExchangeLike => e }.isEmpty,
        s"index side re-shuffled:\n${idxSide.toString.take(1200)}")
      assert(probeSide.collect { case e: ShuffleExchangeLike => e }.nonEmpty,
        "probe side should carry the one honest exchange")
      // candidate parity with the in-memory incremental operator
      val viaIndex = joined.select(col("new_id"), col("old_id")).distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val inMemory = graft.operators.Dedup
        .minhashCandidatesBetween(sigs, col("doc_id") % 10 === 0)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(viaIndex == inMemory)
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS dedup_index_b")
    }
  }

  test("a point predicate on the bucketing key prunes to one bucket") {
    val out = queries.Serving.bucketPrune(spark, sfDir)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"bucket pruning missing from scan:\n${plan.take(1500)}")
    val expected = Tables.orders(spark, sfDir)
      .filter(col("o_custkey") === 42L).count()
    assert(out.count() == expected)
  }
}
