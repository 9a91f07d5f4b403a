package graft.etl

import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Path, Paths}

/** One migrated (or attempted) PK-range batch — the Spark-native analog
  * of the reference's per-job metadata row (jobid, range, rowcount,
  * state) kept via ORM in the source DB (migbq metadata manager [K],
  * SURVEY.md §2A A9; /root/reference was empty, so module-level cites
  * are public-knowledge recall).
  */
case class BatchRecord(
    table: String,
    pkLower: Long, // exclusive
    pkUpper: Long, // inclusive
    rowCount: Long,
    status: String, // PENDING | DONE | ERROR
    runId: Long)

/** The state contract [[IncrementalRunner]] needs, implemented by
  * [[StateStore]]. Metadata-scale by design: every method moves
  * O(number of batches) records, never O(rows). */
trait BatchState {
  def currentVersion: Long
  def read(): Seq[BatchRecord]
  def upsert(records: Seq[BatchRecord]): Unit
  /** Migration frontier: highest DONE pkUpper for a table (the
    * reference's "last migrated pk"). */
  def frontier(table: String): Long =
    read().filter(r => r.table == table && r.status == "DONE")
      .map(_.pkUpper).foldLeft(Long.MinValue)(math.max)
  def pending(table: String): Seq[BatchRecord] =
    read().filter(r => r.table == table && r.status != "DONE")
}

/** Versioned parquet-backed checkpoint table for incremental-migration
  * state.
  *
  * State is metadata-scale — O(number of batches), never O(rows) — so
  * it is maintained on the driver and written whole, like the
  * reference's peewee tables, but stored as parquet versions so a
  * crashed writer can never corrupt it: each upsert writes a complete
  * new `v=N` directory and readers pick the highest complete version
  * (commit marker file). At 100 TB the data path scales out; this
  * state path stays tiny (a million batches ≈ a few MB).
  *
  * Each version is one parquet file written and read on the driver
  * through parquet-hadoop (written through its local-file API, with no
  * `.crc` file), so state I/O runs no Spark job. The schema
  * is the one Spark writes for [[BatchRecord]], so versions written by
  * `Dataset.write.parquet` read back unchanged, and Spark can read the
  * versions written here. The last committed or
  * read version is kept in memory and served while it is still the
  * newest committed one; any other committed version on disk (another
  * writer's commit) forces a re-read.
  */
class StateStore(spark: SparkSession, dir: String) extends BatchState {

  private def versions: Seq[Long] =
    StateStore.files(Paths.get(dir)).collect {
      case p if p.getFileName.toString.startsWith("v=") &&
        Files.exists(p.resolve("_COMMITTED")) => p.getFileName.toString.drop(2).toLong
    }.sorted

  def currentVersion: Long = versions.lastOption.getOrElse(-1L)

  /** The last committed or read (version, records). */
  private var cached: (Long, Seq[BatchRecord]) = (-1L, Seq.empty)

  def read(): Seq[BatchRecord] = {
    val v = currentVersion
    val (cv, recs) = cached
    if (v == cv) recs
    else {
      val fresh = if (v < 0) Seq.empty else StateStore.readVersion(hadoopConf, versionDir(v))
      cached = (v, fresh)
      fresh
    }
  }

  /** Committed versions retained after each upsert: enough history to
    * debug a bad run, bounded so a long migration's state dir stays
    * O(1) directories instead of O(batches). */
  private val keepVersions = 8

  private def hadoopConf = spark.sparkContext.hadoopConfiguration
  private def versionDir(v: Long) = Paths.get(dir, s"v=$v")

  /** Upsert keyed on (table, pkLower, pkUpper): replaces any existing
    * record for the same range — re-running a range is idempotent in
    * the state, matching the reference's retry semantics (A11).
    *
    * Write amplification note: each upsert rewrites the WHOLE state as
    * a new version (that is what makes a crashed writer harmless —
    * readers only ever see a complete committed version), so a
    * migration of N ranges writes O(N²) records in total. The state is
    * metadata-scale (a record per RANGE, bytes each), so even a
    * million-batch migration moves only gigabytes of state over its
    * whole lifetime — the simplicity-for-amplification trade is
    * deliberate; an append-log + periodic compaction is the upgrade
    * path if state ever outgrows that. Old versions are pruned to the
    * last [[keepVersions]] so the directory count stays bounded. */
  def upsert(records: Seq[BatchRecord]): Unit = {
    val keys = records.map(r => (r.table, r.pkLower, r.pkUpper)).toSet
    val merged = read().filterNot(r => keys.contains((r.table, r.pkLower, r.pkUpper))) ++ records
    val v = currentVersion + 1
    val path = versionDir(v)
    // a crashed writer may have left an uncommitted v=N: replace it whole
    StateStore.deleteDir(path)
    Files.createDirectories(path)
    StateStore.writeVersion(hadoopConf, path, merged)
    Files.createFile(path.resolve("_COMMITTED"))
    cached = (v, merged)
    // prune AFTER the new commit marker exists: a crash mid-prune
    // leaves extra old versions (harmless), never a missing current one
    versions.dropRight(keepVersions).foreach { old =>
      val op = versionDir(old)
      // marker goes FIRST: readers discover versions by marker, so the
      // directory becomes invisible before any data file disappears —
      // a crash mid-delete can never leave a half-present version that
      // still looks committed
      Files.deleteIfExists(op.resolve("_COMMITTED"))
      StateStore.deleteDir(op)
    }
  }

}

private object StateStore {
  import org.apache.hadoop.conf.Configuration
  import org.apache.hadoop.fs.{Path => HPath}
  import org.apache.parquet.example.data.Group
  import org.apache.parquet.example.data.simple.SimpleGroupFactory
  import org.apache.parquet.hadoop.ParquetReader
  import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport}
  import org.apache.parquet.io.LocalOutputFile
  import org.apache.parquet.schema.MessageTypeParser
  import scala.jdk.CollectionConverters._

  /** [[BatchRecord]]'s parquet schema as Spark writes it, so either
    * side reads the other's versions. */
  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  optional binary table (STRING);
      |  required int64 pkLower;
      |  required int64 pkUpper;
      |  required int64 rowCount;
      |  optional binary status (STRING);
      |  required int64 runId;
      |}""".stripMargin)

  /** Writes `recs` as `dir/part-00000.parquet` through `java.nio`
    * (no `.crc` file and no forked `chmod`, which Hadoop's local file
    * system adds per file) with the store's Hadoop conf, so no new
    * `Configuration` is parsed. */
  def writeVersion(conf: Configuration, dir: Path,
                   recs: Seq[BatchRecord]): Unit = {
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve("part-00000.parquet")))
      .withConf(conf).withType(schema).build()
    try recs.foreach { r =>
      w.write(groups.newGroup().append("table", r.table).append("pkLower", r.pkLower)
        .append("pkUpper", r.pkUpper).append("rowCount", r.rowCount)
        .append("status", r.status).append("runId", r.runId))
    } finally w.close()
  }

  /** Every record of one version, in file order; data files are the
    * names Spark's file index would list (no `_` or `.` prefix). */
  def readVersion(conf: Configuration, dir: Path): Seq[BatchRecord] = {
    val out = Seq.newBuilder[BatchRecord]
    files(dir).map(_.getFileName.toString)
      .filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted.foreach { name =>
        val r = ParquetReader.builder(new GroupReadSupport, new HPath(dir.resolve(name).toUri))
          .withConf(conf).build()
        try {
          var g: Group = r.read()
          while (g != null) {
            out += BatchRecord(g.getString("table", 0), g.getLong("pkLower", 0),
              g.getLong("pkUpper", 0), g.getLong("rowCount", 0), g.getString("status", 0),
              g.getLong("runId", 0))
            g = r.read()
          }
        } finally r.close()
      }
    out.result()
  }

  /** A directory's entries (none if it is missing). Files.list holds a
    * directory handle until closed, and this runs several times per
    * migrated batch, so the stream is always closed. */
  def files(d: Path): Seq[Path] =
    if (!Files.exists(d)) Seq.empty
    else {
      val stream = Files.list(d)
      try stream.iterator().asScala.toList finally stream.close()
    }

  /** Deletes a flat version directory: its files, then itself. */
  def deleteDir(d: Path): Unit = {
    files(d).foreach(Files.deleteIfExists)
    Files.deleteIfExists(d)
  }
}
