package graft

import org.apache.spark.TaskContext
import org.apache.spark.sql.{DataFrame, Encoders}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Task-retry determinism: on a 1000-executor cluster tasks get
  * preempted, executors die, and Spark silently recomputes lost
  * partitions — so every operator result must be invariant under "any
  * task may run twice". The suite session runs with
  * spark.task.maxFailures=2 (master local[4,2]); this spec injects a
  * guaranteed FIRST-ATTEMPT failure into every task of a stage and
  * asserts the retried run is bit-identical to a clean run for the
  * machinery where recomputation could plausibly diverge:
  * layout-derived ids (monotonically_increasing_id two-pass ranks),
  * merge-order-sensitive bounded heaps, hash sampling, and the
  * parquet commit protocol (failed attempts must leave no partial
  * files). Complements EtlSpec / SourceSpec, which cover DRIVER-level
  * crash/resume; this is the TASK-level twin. */
class RetrySpec extends SparkSpec {

  /** Wraps a stage so every task throws on its first attempt and
    * passes rows through untouched on the retry. The mapPartitions
    * boundary pins the injection point; maxFailures=2 makes attempt 1
    * the last allowed, so a test that completes proves exactly one
    * retry happened per task (a second failure would kill the job). */
  private def flaky(df: DataFrame): DataFrame = {
    val enc = Encoders.row(df.schema)
    df.mapPartitions { it =>
      if (TaskContext.get.attemptNumber == 0)
        throw new RuntimeException("injected first-attempt failure")
      it
    }(enc)
  }

  private def lineitem = Tables.load(spark, sfDir, "lineitem")

  test("aggregation over a retried scan equals the clean aggregate") {
    val clean = lineitem.groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq).toSeq
    val retried = flaky(lineitem).groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("q"), count(lit(1)).as("n"))
      .orderBy(col("l_returnflag")).collect().map(_.toSeq).toSeq
    assert(retried == clean)
  }

  test("two-pass layout-derived global rank survives task retries") {
    // The repo's scale-safe rank machinery derives positions from the
    // physical layout (mid = partition index ∥ local counter). That is
    // only retry-safe because repartitionByRange + sortWithinPartitions
    // makes each partition's content AND order a deterministic function
    // of the data — a recomputed task rebuilds identical ids. Prove it.
    def ranks(src: DataFrame): Seq[Seq[Any]] = {
      val parts = src
        .repartitionByRange(4, col("o_totalprice"), col("o_orderkey"))
        .sortWithinPartitions(col("o_totalprice"), col("o_orderkey"))
        .withColumn("mid", monotonically_increasing_id())
        .withColumn("pid", shiftright(col("mid"), 33).cast("int"))
      val counts = parts.groupBy(col("pid"))
        .agg(count(lit(1)).as("c"), min(col("mid")).as("m0"))
      val offsets = counts
        .withColumn("off", sum(col("c")).over(Window.orderBy(col("pid"))) - col("c"))
        .select(col("pid"), col("off"), col("m0"))
      parts.join(broadcast(offsets), Seq("pid"))
        .select(col("o_orderkey"),
          (col("off") + (col("mid") - col("m0")) + 1).as("rnk"))
        .orderBy(col("o_orderkey")).collect().map(_.toSeq).toSeq
    }
    val orders = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderkey"), col("o_totalprice"))
    assert(ranks(flaky(orders)) == ranks(orders),
      "layout-derived ranks diverged under task retry")
  }

  test("bounded-heap top-k aggregate survives task retries") {
    val probes = Tables.load(spark, sfDir, "embeddings").limit(3)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p"))
    val corpus = Tables.load(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    graft.functions.GraftFunctions.register(spark)
    import graft.functions.GraftFunctions.dotF32
    def topk(c: DataFrame): Seq[Seq[Any]] = {
      val scored = probes.crossJoin(broadcast(c))
        .withColumn("s", dotF32(col("p"), col("embedding")).cast("double"))
        .select(col("probe_id"), col("vec_id"), col("s"))
      val agg = udaf(new operators.TopKPairsD(5))
      scored.groupBy(col("probe_id")).agg(agg(col("s"), col("vec_id")).as("tk"))
        .select(col("probe_id"), explode(col("tk")).as("hit"))
        .select(col("probe_id"), col("hit._1").as("rnk"),
          col("hit._3").as("id"), col("hit._2").as("score"))
        .orderBy(col("probe_id"), col("rnk")).collect().map(_.toSeq).toSeq
    }
    assert(topk(flaky(corpus)) == topk(corpus))
  }

  test("shared cut machinery (Ranked.cutValues*) survives task retries") {
    // The round-12 bounded cut forms COLLECT the per-(partition, group)
    // count/weight table during plan construction and re-read the
    // pinned partitioned relation in the final pass — both steps lean
    // on the same layout determinism as the two-pass ranks (a
    // recomputed cache partition rebuilds identical content, order,
    // and ids). Prove the end results are retry-invariant.
    val src = Tables.load(spark, sfDir, "orders")
      .select(col("o_orderstatus").as("g"), col("o_totalprice").as("v"))
    def med(d: DataFrame): Map[String, Any] =
      Caches.own(operators.Ranked.cutValuesByRank(d, Seq("g"),
        Seq(col("v")), col("v"),
        t => t.select(col("g"), lit("med").as("tname"),
          ceil(col("tw") * 0.5).cast("bigint").as("t")),
        maxGroups = 3, cutsPerGroup = 1))
        .collect().map(r => r.getAs[String]("g") -> r.get(r.fieldIndex("cut_value")))
        .toMap
    assert(med(flaky(src)) == med(src))
    def wmed(d: DataFrame): Map[String, Any] =
      Caches.own(operators.Ranked.cutValues(
        d.withColumn("w", lit(2L)), Seq("g"), Seq(col("v")), col("w"),
        col("v"),
        t => t.select(col("g"), lit("med").as("tname"),
          expr("(tw + 1) DIV 2").as("t")),
        maxGroups = 3, cutsPerGroup = 1))
        .collect().map(r => r.getAs[String]("g") -> r.get(r.fieldIndex("cut_value")))
        .toMap
    assert(wmed(flaky(src)) == wmed(src))
  }

  test("deterministic hash sampling survives task retries") {
    val src = Tables.load(spark, sfDir, "customer")
    def sample(df: DataFrame): Seq[Any] = df
      .filter(pmod(xxhash64(col("c_custkey"), lit(42)), lit(100)) < 10)
      .select(col("c_custkey")).orderBy(col("c_custkey"))
      .collect().map(_.get(0)).toSeq
    assert(sample(flaky(src)) == sample(src))
  }

  test("streaming micro-batch aggregation survives task retries exactly-once") {
    // The streaming twin: a task failing INSIDE a micro-batch must be
    // retried by the batch's job without double-counting state — the
    // exactly-once story at the task level (StreamingSpec's
    // checkpoint-restart test is the driver-level twin). Every task of
    // the flaky stage fails its first attempt in EVERY micro-batch.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.OutputMode
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[(Long, Double)]
    val q = flaky(stream.toDF().toDF("k", "v"))
      .groupBy(col("k") % 3)
      .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
      .writeStream.format("memory").queryName("retry_agg")
      .outputMode(OutputMode.Complete()).start()
    try {
      stream.addData((1L, 1.0), (2L, 2.0), (3L, 4.0))
      q.processAllAvailable()
      stream.addData((4L, 8.0), (5L, 16.0), (6L, 32.0))
      q.processAllAvailable()
      val got = spark.table("retry_agg").collect()
        .map(r => (r.getLong(0), r.getDouble(1), r.getLong(2))).toSet
      assert(got == Set((0L, 36.0, 2L), (1L, 9.0, 2L), (2L, 18.0, 2L)),
        s"retried streaming aggregation diverged: ${got.toSeq.sorted}")
    } finally q.stop()
  }

  test("parquet commit discards failed attempts: no loss, no duplicates") {
    val dir = tempDir("graft_retry_w")
    val out = s"$dir/t.parquet"
    val src = Tables.load(spark, sfDir, "nation")
    flaky(src.repartition(4, col("n_nationkey"))).write.mode("overwrite").parquet(out)
    val back = spark.read.parquet(out)
      .orderBy(col("n_nationkey")).collect().map(_.toSeq).toSeq
    val want = src.orderBy(col("n_nationkey")).collect().map(_.toSeq).toSeq
    assert(back == want, "retried write lost or duplicated rows")
  }
}
