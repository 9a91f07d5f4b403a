package graft.etl

import java.io.FileNotFoundException
import scala.util.control.NonFatal
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Range-partitioned batch sink: the destination side of a migration.
  * The parquet implementation writes each PK range to its own
  * directory with overwrite, so re-running a range replaces rather
  * than duplicates — the idempotency the reference gets from BigQuery
  * load-job + range bookkeeping (A8/A11). A BigQuery sink would be the
  * spark-bigquery-connector with the same range-keyed overwrite. */
trait BatchSink {
  /** Writes one batch; returns rows written. */
  def write(batch: DataFrame, table: String, pkLower: Long, pkUpper: Long): Long
  /** Rows currently present for a range (for count validation). */
  def count(spark: SparkSession, table: String, pkLower: Long, pkUpper: Long): Long
}

/** Writes each range with one Spark job and answers every count from
  * the parquet footers of the range directory's committed data files,
  * read on the driver: the row count a footer records is exact, so
  * `write`'s post-commit check and `validate`'s per-range count cost a
  * directory listing and one footer read per file, not a Spark job.
  * Names starting with `_` or `.` (`_SUCCESS`, `.crc` checksums) are
  * skipped, as Spark's file index skips them. A missing directory, one
  * with no data file, or an unreadable footer makes `write` throw and
  * `count` return -1, the answers a Spark read of the directory gives. */
class ParquetRangeSink(baseDir: String) extends BatchSink {
  def path(table: String, lo: Long, hi: Long) = s"$baseDir/$table/range_${lo}_$hi"

  override def write(batch: DataFrame, table: String, lo: Long, hi: Long): Long = {
    batch.write.mode(SaveMode.Overwrite).parquet(path(table, lo, hi))
    footerRows(batch.sparkSession, path(table, lo, hi))
  }

  override def count(spark: SparkSession, table: String, lo: Long, hi: Long): Long =
    try footerRows(spark, path(table, lo, hi))
    catch { case NonFatal(_) => -1L }

  private def footerRows(spark: SparkSession, dir: String): Long = {
    val conf = spark.sparkContext.hadoopConfiguration
    val p = new Path(dir)
    val files = p.getFileSystem(conf).listStatus(p).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
    if (files.isEmpty) throw new FileNotFoundException(s"no parquet data file in $dir")
    files.map { f =>
      val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
      try r.getRecordCount finally r.close()
    }.sum
  }
}

/** The reference's EP1/EP3 control loop (SURVEY.md §3.1), Spark-native:
  * read the frontier from the state table, compute MAX(pk), migrate
  * `(frontier, max]` in `batchSize`-sized PK ranges, record each range
  * in the state store, and validate counts per range (A6). Calling
  * [[run]] again picks up where the last run stopped — including after
  * a crash mid-batch, because a range is only DONE after its sink
  * write committed and ranges overwrite idempotently (at-least-once,
  * exactly-once effective).
  *
  * Scale: each batch is itself a distributed job (the range filter is
  * pushed into the scan); `batchSize` bounds per-batch memory exactly
  * like the reference's row batching, but here it exists for sink
  * atomicity, not because a single process streams the rows.
  */
class IncrementalRunner(
    spark: SparkSession,
    state: BatchState,
    sink: BatchSink,
    batchSize: Long = 5000L) {

  /** One incremental pass; returns the ranges migrated this call.
    * `failAt` injects a crash after N batches (tests only). */
  def run(source: DataFrame, table: String, pkCol: String,
          failAt: Int = Int.MaxValue): Seq[BatchRecord] = {
    // Cast the PK to long in the aggregate so INT/SMALLINT PK columns
    // work (getLong on an IntegerType row field would ClassCastException).
    val bounds = source
      .agg(min(col(pkCol).cast("long")), max(col(pkCol).cast("long"))).collect()(0)
    if (bounds.isNullAt(1)) return Seq.empty
    val hiEnd = bounds.getLong(1)
    // Fresh table (no DONE ranges): start just below the actual min PK so
    // zero and negative PKs are migrated too, not silently skipped.
    val f = state.frontier(table)
    val start = if (f == Long.MinValue) bounds.getLong(0) - 1 else f
    val done = scala.collection.mutable.ArrayBuffer[BatchRecord]()
    var lo = start
    var n = 0
    while (lo < hiEnd) {
      val hi = math.min(lo + batchSize, hiEnd)
      if (n >= failAt) throw new RuntimeException(s"injected crash before range ($lo, $hi]")
      val batch = source.filter(col(pkCol) > lo && col(pkCol) <= hi)
      val written = sink.write(batch, table, lo, hi)
      val rec = BatchRecord(table, lo, hi, written, "DONE", System.currentTimeMillis())
      state.upsert(Seq(rec))
      done += rec
      lo = hi
      n += 1
    }
    done.toSeq
  }

  /** A6 count-compare validation: recount source and sink per recorded
    * range; mismatched ranges are flagged ERROR in the state (feeding
    * [[retry]]). Returns the mismatching records. */
  def validate(source: DataFrame, table: String, pkCol: String): Seq[BatchRecord] = {
    val recs = state.read().filter(_.table == table)
    if (recs.isEmpty) return Seq.empty
    // ONE source pass for ALL ranges: rows bucket into their recorded
    // (disjoint-by-construction) range via a broadcast range join on
    // the metadata-scale range table, and every per-range source count
    // falls out of a single aggregate — not one filtered full scan per
    // range, which made `check` O(ranges × table) on a long migration.
    // The sink side stays one count per range through the BatchSink
    // interface (for the parquet sink that is a driver-side footer read
    // of the range directory, no Spark job; a warehouse sink would
    // batch it server-side).
    import spark.implicits._
    val ranges = recs.map(r => (r.pkLower, r.pkUpper)).toDF("lo", "hi")
    val srcCounts = source.select(col(pkCol).cast("long").as("pk"))
      .join(broadcast(ranges), col("pk") > col("lo") && col("pk") <= col("hi"))
      .groupBy(col("lo"), col("hi")).agg(count(lit(1)).as("n"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    val bad = recs.flatMap { r =>
      val srcN = srcCounts.getOrElse((r.pkLower, r.pkUpper), 0L)
      val dstN = sink.count(spark, table, r.pkLower, r.pkUpper)
      if (srcN != dstN) Some(r.copy(status = "ERROR", rowCount = dstN)) else None
    }
    if (bad.nonEmpty) state.upsert(bad)
    bad
  }

  /** A11 retry: re-migrate every non-DONE range (idempotent overwrite). */
  def retry(source: DataFrame, table: String, pkCol: String): Seq[BatchRecord] = {
    val redo = state.pending(table)
    val fixed = redo.map { r =>
      val batch = source.filter(col(pkCol) > r.pkLower && col(pkCol) <= r.pkUpper)
      val written = sink.write(batch, table, r.pkLower, r.pkUpper)
      r.copy(rowCount = written, status = "DONE", runId = System.currentTimeMillis())
    }
    if (fixed.nonEmpty) state.upsert(fixed)
    fixed
  }
}

/** The reference's ranged JDBC read (A1) as Spark options: Spark's JDBC
  * source generates exactly the `WHERE pk > ? AND pk <= ?` stride
  * predicates the reference hand-writes, one per partition, read in
  * parallel. Kept as an option builder (no live RDBMS in this
  * environment); unit-tested for option construction.
  */
object JdbcRangedSource {
  def options(url: String, table: String, pkCol: String,
              lower: Long, upper: Long, numPartitions: Int): Map[String, String] =
    Map(
      "url" -> url,
      "dbtable" -> table,
      "partitionColumn" -> pkCol,
      "lowerBound" -> lower.toString,
      "upperBound" -> upper.toString,
      "numPartitions" -> numPartitions.toString,
      // Stream rows instead of materializing the whole range cursor.
      "fetchsize" -> "10000")

  def read(spark: SparkSession, opts: Map[String, String]): DataFrame =
    spark.read.format("jdbc").options(opts).load()
}
