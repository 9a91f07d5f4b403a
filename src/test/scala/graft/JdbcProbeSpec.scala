package graft

import java.sql.DriverManager
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.{BatchRecord, BatchSink, DerbyStage, IncrementalRunner, ParquetRangeSink, StateStore}

/** The migration's bounds probe and range counts on a bare JDBC source
  * are answered by the source database, with no Spark job, and agree
  * with the Spark path every other source keeps. */
class JdbcProbeSpec extends SparkSpec {

  private val Table = "orders_stage"
  private val Pk = "o_orderkey"

  /** Keys 0..1499 of `orders` with every key ≡ 3 (mod 7) missing, staged
    * in a fresh Derby database; returns its URL. */
  private def stage(dir: String): String =
    DerbyStage.stage(Tables.orders(spark, sfDir)
      .select(col(Pk), col("o_custkey"), col("o_totalprice"))
      .filter(col(Pk) % 7 =!= 3), s"$dir/db", Table)

  private def derby(url: String): DataFrame =
    DerbyStage.readRanged(spark, url, Table, Pk, 0L, 1500L, 4)

  private def sql(url: String, statement: String): Unit = {
    val c = DriverManager.getConnection(url)
    try c.createStatement().executeUpdate(statement) finally c.close()
  }

  /** A state holding `records`, under a new directory. */
  private def stateOf(records: Seq[BatchRecord]): StateStore = {
    val st = new StateStore(spark, tempDir("graft-probe-state"))
    if (records.nonEmpty) st.upsert(records)
    st
  }

  /** A sink that writes nothing and reports `n` rows in every range. */
  private def fixedSink(n: Long): BatchSink = new BatchSink {
    def write(batch: DataFrame, table: String, lo: Long, hi: Long): Long =
      throw new UnsupportedOperationException("no writes")
    def count(s: SparkSession, table: String, lo: Long, hi: Long): Long = n
  }

  test("run's bounds probe and validate's source side run no Spark job on Derby") {
    val out = tempDir("graft-probe")
    val url = stage(out)
    val src = derby(url)
    val state = new StateStore(spark, s"$out/state")
    val runner = new IncrementalRunner(spark, state, new ParquetRangeSink(s"$out/data"), 400)
    var recs = Seq.empty[BatchRecord]
    val runJobs = jobsDuring { recs = runner.run(src, "orders", Pk) }
    assert(recs.map(r => (r.pkLower, r.pkUpper)) ==
      Seq((-1L, 399L), (399L, 799L), (799L, 1199L), (1199L, 1499L)))
    assert(recs.map(_.rowCount).sum == src.count())
    assert(runJobs == recs.size, s"$runJobs jobs for ${recs.size} ranges")
    assert(jobsDuring(assert(runner.validate(src, "orders", Pk).isEmpty)) == 0)
    // caught up: the probe over the rows above the frontier finds none
    assert(jobsDuring(assert(runner.run(src, "orders", Pk).isEmpty)) == 0)
    // sync: only the rows above the frontier are migrated
    sql(url, s"""INSERT INTO $Table ("$Pk", "o_custkey", "o_totalprice") VALUES (1600, 1, 1.5)""")
    val delta = jobsDuring(assert(runner.run(src, "orders", Pk).map(r =>
      (r.pkLower, r.pkUpper, r.rowCount)) == Seq((1499L, 1600L, 1L))))
    assert(delta == 1)
    assert(jobsDuring(assert(runner.validate(src, "orders", Pk).isEmpty)) == 0)
  }

  test("a quoted table and a mixed-case PK reach Derby as Spark's scan names them") {
    val out = tempDir("graft-probe")
    val table = "\"MixedCase Stage\""
    val url = DerbyStage.stage(Tables.orders(spark, sfDir)
      .select(col(Pk).as("OrderKey"), col("o_custkey").as("CustKey")), s"$out/db", table)
    val src = DerbyStage.readRanged(spark, url, table, "OrderKey", 0L, 1500L, 4)
    val runner = new IncrementalRunner(spark, new StateStore(spark, s"$out/state"),
      new ParquetRangeSink(s"$out/data"), 500)
    var k = 0
    assert(jobsDuring { k = runner.run(src, "orders", "OrderKey").size } == 3)
    assert(k == 3)
    assert(jobsDuring(assert(runner.validate(src, "orders", "OrderKey").isEmpty)) == 0)
  }

  test("validate flags the same ranges and counts on Derby as on the same rows in parquet") {
    val out = tempDir("graft-probe")
    val url = stage(out)
    val src = derby(url)
    val sink = new ParquetRangeSink(s"$out/data")
    val onDerby = new StateStore(spark, s"$out/state")
    new IncrementalRunner(spark, onDerby, sink, 400).run(src, "orders", Pk)
    val onParquet = stateOf(onDerby.read())
    // one row leaves (399, 799], one arrives in (1199, 1499]
    sql(url, s"""DELETE FROM $Table WHERE "$Pk" = 501""")
    sql(url, s"""INSERT INTO $Table ("$Pk", "o_custkey", "o_totalprice") VALUES (1200, 1, 1.5)""")
    src.write.parquet(s"$out/snapshot")
    val parquet = spark.read.parquet(s"$out/snapshot")
    var viaSql = Seq.empty[BatchRecord]
    var viaSpark = Seq.empty[BatchRecord]
    assert(jobsDuring {
      viaSql = new IncrementalRunner(spark, onDerby, sink).validate(src, "orders", Pk)
    } == 0)
    assert(jobsDuring {
      viaSpark = new IncrementalRunner(spark, onParquet, sink).validate(parquet, "orders", Pk)
    } > 0)
    assert(viaSql.map(r => (r.pkLower, r.pkUpper)) == Seq((399L, 799L), (1199L, 1499L)))
    assert(viaSql == viaSpark)
    assert(onDerby.read().sortBy(_.pkLower) == onParquet.read().sortBy(_.pkLower))
  }

  test("2,000 one-key ranges validate to the same flagged set on both paths") {
    val out = tempDir("graft-probe")
    val src = derby(stage(out))
    val ranges = (0L until 2000L).map(k => BatchRecord("orders", k - 1, k, 1, "DONE", 1))
    // every range reports one sink row: the flagged ranges are the absent keys
    val sink = fixedSink(1)
    var viaSql = Seq.empty[BatchRecord]
    assert(jobsDuring {
      viaSql = new IncrementalRunner(spark, stateOf(ranges), sink).validate(src, "orders", Pk)
    } == 0)
    // the same rows under a repartition take the Spark path
    val viaSpark = new IncrementalRunner(spark, stateOf(ranges), sink)
      .validate(src.repartition(2), "orders", Pk)
    val absent = (0L until 2000L).filter(k => k % 7 == 3 || k >= 1500)
    assert(viaSql.map(_.pkUpper).sorted == absent)
    assert(viaSql.sortBy(_.pkLower) == viaSpark.sortBy(_.pkLower))
  }

  test("every other source keeps the Spark path and today's answers") {
    val out = tempDir("graft-probe")
    val url = stage(out)
    val derbySrc = derby(url)
    val rows = derbySrc.count()
    def src(what: String, source: DataFrame): Unit = {
      val dir = tempDir("graft-probe")
      val runner = new IncrementalRunner(spark, new StateStore(spark, s"$dir/state"),
        new ParquetRangeSink(s"$dir/data"), 400)
      var k = 0
      val runJobs = jobsDuring { k = runner.run(source, "orders", Pk).map(_.rowCount).sum.toInt }
      assert(k == rows, what)
      assert(runJobs > 4, s"$what: $runJobs jobs for 4 ranges")
      assert(jobsDuring(assert(runner.validate(source, "orders", Pk).isEmpty, what)) > 0, what)
    }

    src("parquet", { derbySrc.write.parquet(s"$out/parquet"); spark.read.parquet(s"$out/parquet") })
    src("filtered JDBC", derbySrc.filter(col(Pk) >= 0))
    src("predicates JDBC", spark.read.option("driver", DerbyStage.driver).jdbc(url, Table,
      Array(s""""$Pk" < 700""", s""""$Pk" >= 700"""), new java.util.Properties()))

    // overlapping ranges on a Derby source: a row counts once per range
    val overlapping = Seq(BatchRecord("orders", 0, 100, 0, "DONE", 1),
      BatchRecord("orders", 50, 150, 0, "DONE", 1))
    var bad = Seq.empty[BatchRecord]
    val jobs = jobsDuring {
      bad = new IncrementalRunner(spark, stateOf(overlapping), fixedSink(86))
        .validate(derbySrc, "orders", Pk)
    }
    assert(jobs > 0)
    // (0, 100] holds 86 keys, (50, 150] holds 85 (keys ≡ 3 mod 7 absent)
    assert(bad.map(r => (r.pkLower, r.pkUpper, r.rowCount)) == Seq((50L, 150L, 86L)))
  }
}
