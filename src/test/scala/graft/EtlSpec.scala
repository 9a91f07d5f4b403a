package graft

import java.nio.file.{Files, Paths}
import scala.util.control.NonFatal
import org.apache.spark.sql.functions._
import graft.etl.{BatchRecord, Identifiers, IncrementalRunner, JdbcRangedSource, ParquetRangeSink, StateStore}

/** Crash/resume, idempotency, and validation semantics of the
  * incremental frontier loop (the reference's run/check/retry/sync
  * surface, SURVEY.md §2A A9-A12). */
class EtlSpec extends SparkSpec {

  private def tmp(): String =
    tempDir("graft-etl")

  test("state store: upsert is keyed, versions survive re-read") {
    val st = new StateStore(spark, tmp())
    assert(st.read().isEmpty)
    st.upsert(Seq(BatchRecord("t", -1, 10, 11, "DONE", 1)))
    st.upsert(Seq(BatchRecord("t", 10, 20, 10, "PENDING", 2)))
    assert(st.read().size == 2)
    // same range re-recorded replaces, not duplicates
    st.upsert(Seq(BatchRecord("t", 10, 20, 10, "DONE", 3)))
    assert(st.read().size == 2)
    assert(st.frontier("t") == 20L)
    assert(st.pending("t").isEmpty)
  }

  test("full incremental run migrates everything exactly once") {
    val src = Tables.orders(spark, sfDir) // 1500 rows, keys 0..1499
    val out = tmp()
    val runner = new IncrementalRunner(spark, new StateStore(spark, s"$out/state"),
      new ParquetRangeSink(s"$out/data"), batchSize = 400)
    val recs = runner.run(src, "orders", "o_orderkey")
    assert(recs.map(_.rowCount).sum == src.count())
    val written = spark.read.parquet(s"$out/data/orders/range_*")
    assert(written.count() == src.count())
    assert(written.select(countDistinct(col("o_orderkey"))).head().getLong(0) == src.count())
    // second run: frontier caught up, nothing to do
    assert(runner.run(src, "orders", "o_orderkey").isEmpty)
  }

  test("crash mid-run resumes without loss or duplication") {
    val src = Tables.orders(spark, sfDir)
    val out = tmp()
    val state = new StateStore(spark, s"$out/state")
    val runner = new IncrementalRunner(spark, state,
      new ParquetRangeSink(s"$out/data"), batchSize = 400)
    intercept[RuntimeException] {
      runner.run(src, "orders", "o_orderkey", failAt = 2)
    }
    assert(state.frontier("orders") == 799L.min(src.count())) // 2 batches of 400 committed
    // resume: completes the remainder, total exact
    runner.run(src, "orders", "o_orderkey")
    val written = spark.read.parquet(s"$out/data/orders/range_*")
    assert(written.count() == src.count())
    assert(written.select(countDistinct(col("o_orderkey"))).head().getLong(0) == src.count())
  }

  test("growing source: next run migrates only the delta (sync semantics)") {
    val src = Tables.orders(spark, sfDir)
    val out = tmp()
    val runner = new IncrementalRunner(spark, new StateStore(spark, s"$out/state"),
      new ParquetRangeSink(s"$out/data"), batchSize = 1000)
    runner.run(src.filter(col("o_orderkey") < 500), "orders", "o_orderkey")
    val delta = runner.run(src, "orders", "o_orderkey")
    assert(delta.nonEmpty)
    assert(delta.forall(_.pkLower >= 499L))
    assert(spark.read.parquet(s"$out/data/orders/range_*").count() == src.count())
  }

  test("validate flags a damaged range; retry repairs it idempotently") {
    val src = Tables.orders(spark, sfDir)
    val out = tmp()
    val state = new StateStore(spark, s"$out/state")
    val sink = new ParquetRangeSink(s"$out/data")
    val runner = new IncrementalRunner(spark, state, sink, batchSize = 500)
    runner.run(src, "orders", "o_orderkey")
    assert(runner.validate(src, "orders", "o_orderkey").isEmpty)
    // damage one range (simulates a failed/partial destination load)
    val victim = state.read().head
    val dir = new java.io.File(sink.path("orders", victim.pkLower, victim.pkUpper))
    dir.listFiles().foreach(_.delete()); dir.delete()
    val bad = runner.validate(src, "orders", "o_orderkey")
    assert(bad.map(r => (r.pkLower, r.pkUpper)) == Seq((victim.pkLower, victim.pkUpper)))
    val fixed = runner.retry(src, "orders", "o_orderkey")
    assert(fixed.size == 1 && fixed.head.status == "DONE")
    assert(runner.validate(src, "orders", "o_orderkey").isEmpty)
    assert(spark.read.parquet(s"$out/data/orders/range_*").count() == src.count())
  }

  test("control plane runs no Spark job: one write per range, state and validate job-free") {
    val src = Tables.orders(spark, sfDir) // keys 0..1499
    def migrate(batch: Long) = {
      val out = tmp()
      val state = new StateStore(spark, s"$out/state")
      val runner = new IncrementalRunner(spark, state,
        new ParquetRangeSink(s"$out/data"), batchSize = batch)
      var k = 0
      val jobs = jobsDuring { k = runner.run(src, "orders", "o_orderkey").size }
      (out, runner, k, jobs)
    }
    val (out, runner, k, runJobs) = migrate(400)
    assert(k == 4)
    // one write per range plus the bounds probe (at most two jobs)
    assert(runJobs <= k + 2, s"$runJobs jobs for $k ranges")
    // a fresh instance reads from disk, the first from its cache
    val state = new StateStore(spark, s"$out/state")
    assert(jobsDuring(assert(state.read().size == k)) == 0)
    assert(jobsDuring(state.upsert(Seq(state.read().head))) == 0)
    assert(jobsDuring(assert(state.frontier("orders") == 1499L)) == 0)
    // validate: the one source aggregate, independent of the range count
    val few = jobsDuring(assert(runner.validate(src, "orders", "o_orderkey").isEmpty))
    val (_, manyRunner, manyK, _) = migrate(100)
    assert(manyK == 15)
    val many = jobsDuring(assert(manyRunner.validate(src, "orders", "o_orderkey").isEmpty))
    assert(few == many && many < k, s"validate jobs: $few for $k ranges, $many for $manyK")
  }

  test("footer counts answer as the Spark readback did on every edge case") {
    val src = Tables.orders(spark, sfDir)
    val out = tmp()
    val sink = new ParquetRangeSink(s"$out/data")
    def sparkCount(lo: Long, hi: Long): Long =
      try spark.read.parquet(sink.path("t", lo, hi)).count()
      catch { case NonFatal(_) => -1L }
    def same(lo: Long, hi: Long): Long = {
      val n = sink.count(spark, "t", lo, hi)
      assert(n == sparkCount(lo, hi), s"range ($lo, $hi]")
      n
    }
    def dir(lo: Long, hi: Long) = Paths.get(sink.path("t", lo, hi))
    def range(lo: Long, hi: Long) =
      src.filter(col("o_orderkey") > lo && col("o_orderkey") <= hi)
    // several part files: their footers sum
    assert(sink.write(range(0, 600).repartition(3), "t", 0, 600) == 600)
    assert(dir(0, 600).toFile.list().count(_.endsWith(".parquet")) >= 2)
    assert(same(0, 600) == 600)
    // stray `_` and `.` files (including a junk .crc) are skipped
    Files.write(dir(0, 600).resolve("_stray"), "not parquet".getBytes("UTF-8"))
    Files.write(dir(0, 600).resolve(".stray.crc"), "not parquet".getBytes("UTF-8"))
    assert(same(0, 600) == 600)
    // an empty source range commits 0 rows and reads back 0
    assert(sink.write(range(5000, 6000), "t", 5000, 6000) == 0)
    assert(same(5000, 6000) == 0)
    // a deleted range directory, and one holding only _SUCCESS
    assert(same(7000, 8000) == -1)
    Files.createDirectories(dir(8000, 9000))
    Files.createFile(dir(8000, 9000).resolve("_SUCCESS"))
    assert(same(8000, 9000) == -1)
    // an unreadable footer gives -1; a rewrite of the range replaces it
    sink.write(range(600, 700), "t", 600, 700)
    Files.write(dir(600, 700).resolve("part-junk.parquet"), "not parquet".getBytes("UTF-8"))
    assert(same(600, 700) == -1)
    assert(sink.write(range(600, 700), "t", 600, 700) == 100)
    assert(same(600, 700) == 100)
  }

  test("an empty source range migrates as 0 rows and validates clean") {
    val src = Tables.orders(spark, sfDir)
      .filter(col("o_orderkey") <= 399 || col("o_orderkey") > 799)
    val out = tmp()
    val runner = new IncrementalRunner(spark, new StateStore(spark, s"$out/state"),
      new ParquetRangeSink(s"$out/data"), batchSize = 400)
    val recs = runner.run(src, "orders", "o_orderkey")
    assert(recs.map(r => (r.pkLower, r.rowCount)).contains((399L, 0L)))
    assert(runner.validate(src, "orders", "o_orderkey").isEmpty)
  }

  test("gzipped NDJSON round trip (the reference's transport format, A8)") {
    val out = tmp()
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    src.write.option("compression", "gzip").json(s"$out/ndjson")
    assert(new java.io.File(s"$out/ndjson").listFiles()
      .exists(_.getName.endsWith(".json.gz")))
    val back = spark.read.json(s"$out/ndjson")
    assert(back.count() == src.count())
    val a = src.orderBy(col("o_orderkey")).collect().map(_.toSeq)
    val b = back.select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey")).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("partition-pruned read touches one directory, not the table") {
    val q = queries.EtlQueries.partitionPrune(spark, sfDir)
    val plan = q.queryExecution.executedPlan.toString
    // the predicate must prune at planning time (directory-level), not
    // run as a data filter over all partitions
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderpriority"),
      plan.take(1500))
    val want = Tables.orders(spark, sfDir)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    assert(q.count() == want && want > 0)
  }

  test("decimal fidelity: aggregate runs in DecimalType(38,4), sink is engine-neutral") {
    import org.apache.spark.sql.types.{DecimalType, LongType, DoubleType}
    // The money math must be decimal END-TO-END internally (exact,
    // summation-order independent) …
    val agg = Tables.lineitem(spark, sfDir)
      .select((col("l_extendedprice").cast("decimal(18,2)") *
        (lit(1).cast("decimal(18,2)") - col("l_discount").cast("decimal(18,2)")))
        .cast("decimal(30,4)").as("rev"))
      .agg(org.apache.spark.sql.functions.sum(col("rev")).as("srev"))
    assert(agg.schema("srev").dataType == DecimalType(38, 4))
    // … while the emitted columns are BIGINT units + DOUBLE: the
    // verify harness's pandas bridge maps DuckDB decimals to float64
    // but Spark-parquet decimals to Decimal objects, so a decimal
    // SINK column can never hash-match (round-4 red row).
    val out = queries.EtlQueries.decimalFidelity(spark, sfDir)
    assert(out.schema("revenue_units").dataType == LongType)
    assert(out.schema("revenue_dbl").dataType == DoubleType)
    val rows = out.collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      // units are the double's exact source scaled by 1e4 — any lost
      // sub-unit digit would shift the integer.
      assert(math.abs(r.getLong(2) / 1e4 - r.getDouble(3)) < 1e-3,
        s"units/double drift on ${r.getString(0)}")
    }
  }

  test("CSV and ORC round trips (remaining interchange formats)") {
    val out = tmp()
    val src = Tables.customer(spark, sfDir)
      .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
    src.write.option("header", "true").csv(s"$out/csv")
    val csvBack = spark.read.option("header", "true").schema(src.schema).csv(s"$out/csv")
    assert(csvBack.orderBy(col("c_custkey")).collect().map(_.toSeq)
      .sameElements(src.orderBy(col("c_custkey")).collect().map(_.toSeq)))
    src.write.orc(s"$out/orc")
    val orcBack = spark.read.orc(s"$out/orc")
    assert(orcBack.orderBy(col("c_custkey")).collect().map(_.toSeq)
      .sameElements(src.orderBy(col("c_custkey")).collect().map(_.toSeq)))
  }

  test("jdbc ranged-source options reproduce the reference's batching") {
    val o = JdbcRangedSource.options("jdbc:postgresql://h/db", "t", "pk", 0, 100000, 32)
    assert(o("partitionColumn") == "pk" && o("numPartitions") == "32")
    assert(o("lowerBound") == "0" && o("upperBound") == "100000")
  }

  test("real JDBC ranged read via embedded Derby: stride partitions + pushdown") {
    val out = tmp()
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val u = graft.etl.DerbyStage.stage(src, s"$out/db", "orders_stage")
    val back = graft.etl.DerbyStage.readRanged(
      spark, u, "orders_stage", "o_orderkey", 0L, 1500L, 6)
    // the ranged scan is planned as numPartitions concurrent strides
    assert(back.rdd.getNumPartitions == 6)
    assert(back.count() == src.count())
    // a PK predicate reaches the RDBMS, not a Spark-side filter: the
    // JDBC relation advertises it as a pushed filter in the scan node
    val filtered = back.filter(col("o_orderkey") > 100 && col("o_orderkey") <= 600)
    val plan = filtered.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") &&
      (plan.contains("GreaterThan(o_orderkey,100)") ||
        plan.contains("GreaterThan(O_ORDERKEY,100)")),
      plan.take(2000))
    assert(filtered.count() ==
      src.filter(col("o_orderkey") > 100 && col("o_orderkey") <= 600).count())
    // values round-trip: compare a slice bit-for-bit against the source
    val a = filtered.orderBy(col("o_orderkey")).collect().map(_.toSeq)
    val b = src.filter(col("o_orderkey") > 100 && col("o_orderkey") <= 600)
      .orderBy(col("o_orderkey")).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("JDBC quoted/mixed-case identifiers stride and push down; fetchsize survives planning") {
    // Dialect-parity mechanics (MIGRATION.md "Source dialects"): a
    // mixed-case schema folds to garbage on any SQL engine unless the
    // generated SQL quotes identifiers — Derby, like MSSQL, folds
    // unquoted names to one case, so a working ranged read over a
    // camelCase column proves Spark's dialect quoting end-to-end.
    val out = tmp()
    val src = Tables.orders(spark, sfDir)
      .select(col("o_orderkey").as("OrderKey"),
        col("o_custkey").as("CustKey"),
        col("o_totalprice").as("TotalPrice"))
    val u = graft.etl.DerbyStage.stage(src, s"$out/db", "\"MixedCase Stage\"")
    val back = graft.etl.DerbyStage.readRanged(
      spark, u, "\"MixedCase Stage\"", "OrderKey", 0L, 1500L, 4)
    assert(back.rdd.getNumPartitions == 4)
    assert(back.columns.toSeq == Seq("OrderKey", "CustKey", "TotalPrice"),
      "mixed-case column names must survive the round trip exactly")
    assert(back.count() == src.count())
    // pushdown still reaches the engine with a quoted column
    val filtered = back.filter(col("OrderKey") > 100 && col("OrderKey") <= 600)
    assert(filtered.count() == 500)
    // the explicit fetchsize is not just an option-map entry — it
    // survives into the planned JDBC relation the scan executes
    val planned = org.apache.spark.sql.GraftSqlShim.jdbcSource(back)
    assert(planned.nonEmpty, "expected a JDBCRelation in the plan")
    assert(planned.get._1.fetchSize == 10000,
      s"fetchsize lost in planning: ${planned.get._1.fetchSize}")
  }

  test("incremental frontier loop over a JDBC source: crash, resume, validate") {
    val out = tmp()
    val full = Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val u = graft.etl.DerbyStage.stage(full, s"$out/db", "orders_stage")
    // the migration SOURCE is the live RDBMS read — every range filter
    // the runner applies is pushed into Derby as a WHERE clause
    val src = graft.etl.DerbyStage.readRanged(
      spark, u, "orders_stage", "o_orderkey", 0L, 1500L, 4)
    val state = new StateStore(spark, s"$out/state")
    val runner = new IncrementalRunner(spark, state,
      new ParquetRangeSink(s"$out/data"), batchSize = 400)
    intercept[RuntimeException] {
      runner.run(src, "orders", "o_orderkey", failAt = 2)
    }
    assert(state.frontier("orders") < full.count() - 1)
    // resume from the recorded frontier: completes, exactly-once effective
    runner.run(src, "orders", "o_orderkey")
    val written = spark.read.parquet(s"$out/data/orders/range_*")
    assert(written.count() == full.count())
    assert(written.select(countDistinct(col("o_orderkey"))).head().getLong(0)
      == full.count())
    // count-compare validation over the JDBC source agrees per range
    assert(runner.validate(src, "orders", "o_orderkey").isEmpty)
  }

  test("identifier sanitization: grammar, collisions, idempotence, renamer") {
    import Identifiers._
    // rule 1+2: lowercase, non-alnum folds to _, leading digit guarded
    assert(sanitize("Order Date") == "order_date")
    assert(sanitize("total$amount (USD)") == "total_amount__usd_")
    assert(sanitize("2nd_col") == "_2nd_col")
    assert(sanitize("") == "_")
    // every output matches the destination grammar
    val uglies = Seq("Order Date", "order-date", "ORDER DATE", "2fast",
      "x", "_x", "total$", "", "a b c")
    val mapped = sanitizeAll(uglies)
    mapped.foreach { case (_, safe) =>
      assert(safe.matches("[a-z_][a-z0-9_]*"), s"'$safe' breaks the grammar")
    }
    // collisions number by encounter order, outputs stay distinct
    assert(mapped.map(_._2).distinct.length == uglies.length)
    assert(mapped.toMap.apply("Order Date") == "order_date")
    assert(mapped.toMap.apply("order-date") == "order_date_2")
    assert(mapped.toMap.apply("ORDER DATE") == "order_date_3")
    // a literal name equal to a taken suffix keeps counting until free
    val tricky = sanitizeAll(Seq("a b", "a-b", "a_b_2"))
    assert(tricky.map(_._2) == Seq("a_b", "a_b_2", "a_b_2_2"))
    // already-clean names are fixpoints (sanitize twice = once)
    mapped.foreach { case (_, safe) => assert(sanitize(safe) == safe) }
    // the DataFrame renamer applies the same mapping in schema order
    import spark.implicits._
    val df = Seq((1, 2, 3)).toDF("Order Key", "order-key", "2nd")
    assert(Identifiers.sanitizeColumns(df).columns.toSeq ==
      Seq("order_key", "order_key_2", "_2nd"))
    // an original equal to another column's sanitized TARGET must not
    // collapse into duplicate columns (positional toDF, not a
    // rename-by-name fold)
    val aliased = Seq((1, 2)).toDF("A B", "a_b")
    assert(Identifiers.sanitizeColumns(aliased).columns.toSeq ==
      Seq("a_b", "a_b_2"))
    // even duplicate input names stay distinct after sanitization
    val dup = spark.range(1).selectExpr("id AS `x y`", "id + 1 AS `x y`")
    assert(Identifiers.sanitizeColumns(dup).columns.toSeq ==
      Seq("x_y", "x_y_2"))
  }

  test("YAML front door drives the full run -> check -> retry -> sync cycle (A13 end-to-end)") {
    // The reference's whole CLI surface from ONE config file: every
    // command below resolves its (source, pk, workDir, batch) through
    // MigrateApp.resolveArgs on the same YAML — including ${VAR} env
    // templating via the java system-property fallback — and executes
    // through the same dispatch main() uses.
    val out = tmp()
    val srcPath = s"$out/orders.parquet"
    Tables.orders(spark, sfDir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
      .filter(col("o_orderkey") < 1000) // first snapshot: keys 0..999
      .write.parquet(srcPath)
    val cfg = java.nio.file.Paths.get(out, "job.yml")
    // exercise ${VAR} interpolation through the documented channel
    val prev = System.getProperty("GRAFT_TEST_WORK")
    System.setProperty("GRAFT_TEST_WORK", out)
    try {
      java.nio.file.Files.writeString(cfg,
        s"""# migration job (reference-style front door)
           |in:
           |  path: $srcPath
           |  pk_column: o_orderkey
           |out:
           |  work_dir: $${GRAFT_TEST_WORK}/work
           |  batch_size: 300
           |""".stripMargin)
      def call(cmd: String): String = {
        val (s, pk, w, b) = graft.etl.MigrateApp.resolveArgs(
          Array(cmd, "--config", cfg.toString))
        graft.etl.MigrateApp.dispatch(spark, cmd, s, pk, w, b)
      }
      // run: full first migration in 300-key ranges
      assert(call("run").contains("1000 rows"))
      val dataGlob = s"$out/work/data/orders/range_*"
      assert(spark.read.parquet(dataGlob).count() == 1000)
      // check: clean after the run
      assert(call("check").startsWith("[check] 0 mismatched"))
      // corrupt one migrated range, check flags EXACTLY it, retry
      // heals (ranges start just below the min PK: (-1,299], (299,599]…)
      val victim = new java.io.File(s"$out/work/data/orders/range_299_599")
      assert(victim.isDirectory)
      victim.listFiles().filter(_.getName.endsWith(".parquet")).foreach(_.delete())
      assert(call("check").contains("1 mismatched ranges: (299,599]"))
      assert(call("retry") == "[retry] re-migrated 1 ranges")
      assert(call("check").startsWith("[check] 0 mismatched"))
      assert(spark.read.parquet(dataGlob).count() == 1000)
      // source grows (the tail-sync situation); sync migrates ONLY the
      // frontier delta, idempotently
      Tables.orders(spark, sfDir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .filter(col("o_orderkey") >= 1000)
        .write.mode("append").parquet(srcPath)
      val sync = call("sync")
      assert(sync.contains("500 rows"), sync)
      assert(spark.read.parquet(dataGlob).count() == 1500)
      assert(spark.read.parquet(dataGlob)
        .select(countDistinct(col("o_orderkey"))).head().getLong(0) == 1500)
      // second sync: frontier caught up, nothing to do
      assert(call("sync").contains("migrated 0 ranges"))
    } finally {
      if (prev == null) System.clearProperty("GRAFT_TEST_WORK")
      else System.setProperty("GRAFT_TEST_WORK", prev)
    }
  }
}
