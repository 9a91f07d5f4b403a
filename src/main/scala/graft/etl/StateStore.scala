package graft.etl

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
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

/** The backend contract both state stores implement — what
  * [[IncrementalRunner]] actually needs. Metadata-scale by design:
  * every method moves O(number of batches) records, never O(rows). */
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

/** The transactional upgrade path for S5's state table — an own mini
  * commit-log in the public table-format idiom (append-only data
  * files + a manifest made current by one ATOMIC filesystem rename),
  * closing the "Delta MERGE if a jar were present" branch with zero
  * dependencies.
  *
  * Layout under `dir`:
  *   - `data/delta-<v>-<uuid>/` — one parquet delta per upsert (just
  *     that call's records), or `data/base-<v>-<uuid>/` — a compacted
  *     full snapshot.
  *   - `manifest/<v padded>.mf` — text, one data-directory name per
  *     line in replay order. Written to `manifest/.tmp-<uuid>` first,
  *     then `ATOMIC_MOVE`d into place: the rename IS the commit, so a
  *     manifest either exists complete or not at all — no marker file
  *     needed and no torn read possible.
  *
  * Versus [[StateStore]]'s rewrite-the-world versions: an upsert here
  * writes O(batch) records instead of O(total), and the periodic
  * compaction (every [[compactEvery]] deltas) bounds replay length —
  * the append-log + compaction upgrade the StateStore scaladoc names.
  * Crash anywhere is harmless by construction: a delta without a
  * manifest is an invisible orphan (swept on a later commit), a
  * `.tmp-` manifest never parses as current, and cleanup runs only
  * AFTER the new manifest is live. Replay semantics match
  * StateStore.upsert exactly: each delta replaces any earlier record
  * with the same (table, pkLower, pkUpper) key.
  *
  * Concurrency contract: many readers, optimistic writers. Each
  * commit claims its version with an atomic `.lock-v` create, so two
  * writers racing to the same version fail loudly
  * (FileAlreadyExistsException) instead of silently overwriting each
  * other — the loser re-reads current state and retries at the next
  * version. */
class ManifestStateStore(spark: SparkSession, dir: String) extends BatchState {
  import spark.implicits._

  private val dataDir = Paths.get(dir, "data")
  private val mfDir = Paths.get(dir, "manifest")
  private val compactEvery = 8
  private val keepManifests = 4

  private def listDir(d: java.nio.file.Path): Seq[String] = {
    if (!Files.exists(d)) return Seq.empty
    val stream = Files.list(d)
    try {
      val it = stream.iterator()
      val buf = scala.collection.mutable.ArrayBuffer[String]()
      while (it.hasNext) buf += it.next().getFileName.toString
      buf.toSeq
    } finally stream.close()
  }

  /** Committed manifest versions — a name parses as committed iff it
    * is `<digits>.mf` (tmp files and strays never match). */
  private def manifestVersions: Seq[Long] =
    listDir(mfDir).collect {
      case n if n.endsWith(".mf") && n.dropRight(3).forall(_.isDigit) &&
        n.length > 3 => n.dropRight(3).toLong
    }.sorted

  override def currentVersion: Long = manifestVersions.lastOption.getOrElse(-1L)

  private def manifestFiles(v: Long): Seq[String] = {
    val p = mfDir.resolve(f"$v%020d.mf")
    new String(Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      .map(_.trim).filter(_.nonEmpty)
  }

  override def read(): Seq[BatchRecord] = {
    val v = currentVersion
    if (v < 0) return Seq.empty
    manifestFiles(v).foldLeft(Seq.empty[BatchRecord]) { (acc, f) =>
      val delta = spark.read.parquet(dataDir.resolve(f).toString)
        .as[BatchRecord].collect().toSeq
      val keys = delta.map(r => (r.table, r.pkLower, r.pkUpper)).toSet
      acc.filterNot(r => keys.contains((r.table, r.pkLower, r.pkUpper))) ++ delta
    }
  }

  override def upsert(records: Seq[BatchRecord]): Unit = {
    val v = currentVersion + 1
    val prev = if (v == 0) Seq.empty else manifestFiles(v - 1)
    val uuid = java.util.UUID.randomUUID().toString
    Files.createDirectories(dataDir)
    Files.createDirectories(mfDir)
    // compact: fold the whole replayed state (with this batch applied)
    // into one base file, so replay length stays bounded
    val entries: Seq[String] =
      if (prev.length + 1 > compactEvery) {
        val name = s"base-$v-$uuid"
        val keys = records.map(r => (r.table, r.pkLower, r.pkUpper)).toSet
        val full = read().filterNot(r =>
          keys.contains((r.table, r.pkLower, r.pkUpper))) ++ records
        full.toDS().coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(dataDir.resolve(name).toString)
        Seq(name)
      } else {
        val name = s"delta-$v-$uuid"
        records.toDS().coalesce(1).write.mode(SaveMode.Overwrite)
          .parquet(dataDir.resolve(name).toString)
        prev :+ name
      }
    // two-phase commit: full write to a tmp name, then ONE atomic
    // rename makes it the current version. Version v is CLAIMED first
    // by creating `.lock-v` (atomic fail-if-exists): POSIX ATOMIC_MOVE
    // silently replaces an existing target, so two racing writers that
    // both computed version v would otherwise lose the first commit —
    // the claim turns that race into a loud FileAlreadyExistsException
    // (optimistic concurrency: the loser re-reads and retries at v+1).
    // The claim is a SEPARATE name so readers — which only parse
    // `<digits>.mf` — can never observe a half-committed version.
    val tmp = mfDir.resolve(s".tmp-$uuid")
    Files.write(tmp, entries.mkString("\n").getBytes("UTF-8"))
    claimVersion(mfDir.resolve(s".lock-$v"), mfDir.resolve(f"$v%020d.mf"))
    Files.move(tmp, mfDir.resolve(f"$v%020d.mf"),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    cleanup(v)
  }

  /** Claim version ownership before publishing. A lock whose manifest
    * EXISTS means a concurrent writer committed this version — fail
    * loudly (the caller re-reads and retries at the next version). A
    * lock WITHOUT its manifest is a stale claim from a commit that
    * crashed between claim and publish — take it over, so crash-resume
    * stays live (the "crash anywhere is harmless" contract includes
    * crashing inside the commit itself). The takeover narrows
    * concurrent-writer detection to the claim-to-publish window —
    * microseconds — which is the documented best-effort residue of an
    * advisory file lock. */
  private def claimVersion(lock: java.nio.file.Path,
                           manifest: java.nio.file.Path): Unit =
    try Files.createFile(lock)
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        if (Files.exists(manifest))
          throw new IllegalStateException(
            s"concurrent writer committed ${manifest.getFileName} — " +
              "re-read state and retry at the next version", e)
      // else: stale claim from a crashed commit — proceed (take over)
    }

  /** Post-commit sweep — retires old manifests and any data directory
    * no retained manifest references (including crash orphans). Runs
    * only after the new manifest is live; a crash mid-sweep leaves
    * extra files, never a missing current version. */
  private def cleanup(current: Long): Unit = {
    val vs = manifestVersions
    val (drop, keep) = vs.partition(_ <= current - keepManifests)
    drop.foreach { v =>
      Files.deleteIfExists(mfDir.resolve(f"$v%020d.mf"))
      Files.deleteIfExists(mfDir.resolve(s".lock-$v"))
    }
    val live = keep.flatMap(manifestFiles).toSet
    listDir(dataDir).filterNot(live).foreach { orphan =>
      val op = dataDir.resolve(orphan)
      // data dirs are flat parquet directories: files first, then the dir
      listDir(op).foreach(f => Files.deleteIfExists(op.resolve(f)))
      Files.deleteIfExists(op)
    }
  }
}
