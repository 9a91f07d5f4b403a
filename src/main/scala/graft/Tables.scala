package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loaders.
  *
  * One parquet file per table under a scale-factor dir
  * (`/root/repo/TESTDATA.md:13-15`). All engine queries go through
  * these so that scan options/pushdown conventions live in one place.
  *
  * 100 TB posture: at real scale each of these would be a partitioned
  * parquet/iceberg root (or a JDBC ranged read, see
  * [[graft.etl.JdbcRangedSource]]); the query code below never assumes
  * single-file inputs — it only sees a DataFrame.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    graft.functions.GraftFunctions.register(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")
  /** events.ts is TIMESTAMP(NANOS) on disk. Spark point releases have
    * changed how that reads — older 4.x rejects it unless the legacy
    * nanosAsLong conf maps it to raw Long nanos; newer builds ignore
    * that conf and read it natively as TIMESTAMP_NTZ (nanos floored to
    * micros). Handle BOTH by dispatching on the schema the read
    * actually produced; either path lands on Spark's native
    * microsecond TimestampType with identical values (integer `div`
    * floors exactly like the native read's truncation — double
    * division would lose precision above 2^53 ns, and NTZ→TZ cast
    * under the fixed UTC session timezone re-tags the same wall-clock
    * instant). Oracle-checked queries must still only emit
    * second-or-coarser derivations of ts (SURVEY.md §7.4.2). */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = load(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case _: org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
      case _ => raw // native TimestampType already
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Counts every table once, so a timing loop's first query is not
    * charged the session's first scans and footer reads. A table that
    * fails to load is skipped. */
  def warm(s: SparkSession, d: String): Unit =
    names.foreach { n =>
      try (if (n == "events") events(s, d) else load(s, d, n)).count()
      catch { case _: Throwable => }
    }

  /** Small-input parallelism guard for expensive narrow transforms.
    *
    * A parquet file smaller than one row group scans as ONE task, so
    * every costly narrow stage built directly on it (shingling, token
    * hashing, per-token md5) serializes on a single core no matter how
    * many the session has. When the scan is narrower than the session's
    * parallelism, redistribute rows first: the shuffle moves only the
    * tiny input, then the expensive map runs wide. At real scale the
    * input has many row groups, the scan is already wide, and this is
    * a no-op — the check is on actual partition count, not file size.
    */
  /** The session's configured shuffle width. Range-repartition passes
    * (docPacking / abcClass / equidepth prefix sums) size their
    * partition count to THIS, not a hardcoded constant: a range
    * shuffle wider than the session's shuffle width pays extra
    * sampling + scheduling for nothing at bench scale, and at real
    * scale the operator inherits whatever width the cluster session
    * configured.
    */
  def shuffleWidth(s: SparkSession): Int =
    s.conf.get("spark.sql.shuffle.partitions").toInt

  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= math.min(target, 8)) df
    else df.repartition(target)
  }
}
