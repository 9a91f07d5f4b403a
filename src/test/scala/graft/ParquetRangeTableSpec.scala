package graft

import java.io.{ByteArrayOutputStream, ObjectOutputStream}
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.connector.catalog.SupportsWrite
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration
import graft.etl.{DerbyStage, DriverShim, DuckDbStage, IncrementalRunner, ParquetRangeProvider, ParquetRangeSink, StateStore}

/** The range sink's DataSource V2 parquet writer: what its tasks are
  * sent, what a failed or repeated write leaves in the range directory,
  * the output metrics it reports, and that another engine reads what it
  * wrote. */
class ParquetRangeTableSpec extends SparkSpec {

  private def rows(n: Long) =
    spark.range(0, n).select(col("id"), (col("id") % 7).as("v"), col("id").cast("string").as("s"))

  private def entries(dir: String): Set[String] =
    Option(new java.io.File(dir).list()).map(_.toSet).getOrElse(Set.empty)

  test("the writer factory ships no Hadoop configuration and stays under 16 KB") {
    val dir = Paths.get(tempDir("graft-range-factory"), "r").toString
    val table = new ParquetRangeProvider()
      .getTable(rows(1).schema, Array.empty, Map("path" -> dir).asJava).asInstanceOf[SupportsWrite]
    val info = new LogicalWriteInfo {
      override def options() = new CaseInsensitiveStringMap(Map("path" -> dir).asJava)
      override def queryId() = "q-factory"
      override def schema() = rows(1).schema
    }
    val write = table.newWriteBuilder(info).asInstanceOf[SupportsTruncate].truncate().build().toBatch
    val factory = write.createBatchWriterFactory(new PhysicalWriteInfo {
      override def numPartitions() = 4
    })
    val classes = scala.collection.mutable.Set[Class[_]]()
    val bytes = new ByteArrayOutputStream()
    val out = new ObjectOutputStream(bytes) {
      enableReplaceObject(true)
      override def replaceObject(o: AnyRef): AnyRef = { classes += o.getClass; o }
    }
    out.writeObject(factory)
    out.close()
    assert(!classes.exists(c => classOf[Configuration].isAssignableFrom(c) ||
      classOf[SerializableConfiguration].isAssignableFrom(c)), classes.map(_.getName).mkString(", "))
    assert(bytes.size < 16 * 1024, s"${bytes.size} bytes")
    write.abort(Array.empty)
    assert(!entries(dir).exists(_.startsWith("_tmp-")))
  }

  test("a failed write leaves the range's previous files and count, and no staging dir") {
    val sink = new ParquetRangeSink(tempDir("graft-range-fail"))
    assert(sink.write(rows(300).repartition(3), "t", 0, 300) == 300)
    val dir = sink.path("t", 0, 300)
    val before = entries(dir)
    val boom = udf((k: Long) => if (k == 123) throw new IllegalStateException("bad key") else k)
    intercept[Exception](sink.write(rows(300).repartition(3).withColumn("id", boom(col("id"))), "t", 0, 300))
    assert(entries(dir) == before)
    assert(sink.count(spark, "t", 0, 300) == 300)
  }

  test("an overwrite removes a stale staging dir and a stray data file") {
    val sink = new ParquetRangeSink(tempDir("graft-range-stale"))
    sink.write(rows(100), "t", 0, 100)
    val dir = Paths.get(sink.path("t", 0, 100))
    Files.createDirectories(dir.resolve("_tmp-crashed"))
    Files.write(dir.resolve("_tmp-crashed/0-1.parquet"), "partial".getBytes("UTF-8"))
    Files.write(dir.resolve("part-junk.parquet"), "not parquet".getBytes("UTF-8"))
    assert(sink.count(spark, "t", 0, 100) == -1)
    assert(sink.write(rows(100), "t", 0, 100) == 100)
    val left = entries(dir.toString)
    assert(!left.exists(n => n.startsWith("_") || n.startsWith(".") || n == "part-junk.parquet"), left)
    intercept[IllegalArgumentException](new ParquetRangeSink("s3a://bucket/sink").write(rows(1), "t", 0, 1))
  }

  test("each write task reports the bytes and records it wrote") {
    val sink = new ParquetRangeSink(tempDir("graft-range-metrics"))
    val bytes, records = new AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
        bytes.addAndGet(m.outputMetrics.bytesWritten)
        records.addAndGet(m.outputMetrics.recordsWritten)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(sink.write(rows(3000).repartition(3), "t", 0, 3000) == 3000)
      var waited = 0
      while (records.get < 3000 && waited < 100) { Thread.sleep(100); waited += 1 }
    } finally spark.sparkContext.removeSparkListener(listener)
    val files = Files.list(Paths.get(sink.path("t", 0, 3000)))
    val onDisk = try files.iterator().asScala.map(p => Files.size(p)).sum finally files.close()
    assert(records.get == 3000)
    assert(bytes.get == onDisk && onDisk > 0)
  }

  test("DuckDB reads a migrated sink with the source's count and column sums") {
    assume(DuckDbStage.ensureLoaded(), "duckdb_jdbc jar not present in local caches")
    val out = tempDir("graft-range-duckdb")
    val orders = Tables.orders(spark, sfDir)
    val url = DerbyStage.stage(orders, s"$out/db", "orders")
    val source = DerbyStage.readRanged(spark, url, "orders", "o_orderkey", 0L, 1500L, 3)
    new IncrementalRunner(spark, new StateStore(spark, s"$out/state"),
      new ParquetRangeSink(s"$out/data"), batchSize = 400).run(source, "orders", "o_orderkey")
    val want = orders.agg(count(lit(1)), sum(unix_micros(col("o_orderdate").cast("timestamp"))),
      sum(col("o_totalprice")), sum(length(col("o_orderpriority")))).head()
    val con = new DriverShim().connect("jdbc:duckdb:", new java.util.Properties())
    try {
      val rs = con.createStatement().executeQuery(
        "SELECT count(*), sum(epoch_us(o_orderdate)), sum(o_totalprice), " +
          s"sum(length(o_orderpriority)) FROM read_parquet('$out/data/orders/range_*/*.parquet')")
      rs.next()
      assert(rs.getLong(1) == want.getLong(0) && want.getLong(0) == 1500)
      assert(rs.getLong(2) == want.getLong(1))
      assert(math.abs(rs.getDouble(3) - want.getDouble(2)) <= 1e-9 * math.abs(want.getDouble(2)))
      assert(rs.getLong(4) == want.getLong(3))
    } finally con.close()
  }
}
