package graft.sources

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util

import scala.collection.JavaConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability}
import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.expressions.NamedReference
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownAggregates, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The write half of the [[RangeSource]] connector: a file-backed
  * table with SNAPSHOT-COMMIT semantics — the reference's forwarder
  * sink (stage files, then an atomic metadata commit) as a real
  * DataSource V2 `SupportsWrite`, committed by atomic rename
  * (task-temp files, then one manifest publish; a crash mid-commit
  * leaves the previous snapshot intact).
  *
  * Layout under `path`:
  *  - `part-<queryId>-<partition>.csv` — committed data files
  *    (`id,cents,bucket` lines; the fixed [[RangeSource.schema]]).
  *  - `_manifest-v<N>` — the snapshot: one `file,rows,minId,maxId`
  *    line per committed file. Readers resolve the HIGHEST N
  *    (numeric, not lexicographic — the DuckDbStage version-sort
  *    lesson) and read exactly the files it lists; uncommitted or
  *    orphaned part files are invisible.
  *  - `_tmp/` — task-attempt staging. Tasks write here and report the
  *    name in their commit message; the DRIVER renames into place and
  *    only then writes the next manifest. The manifest write is the
  *    commit point: temp + `Files.createFile` claim + ATOMIC_MOVE, so
  *    a concurrent writer loses with FileAlreadyExistsException
  *    instead of silently clobbering (the StateStore ADVICE lesson).
  *
  * The manifest carries per-file ROW COUNTS and id MIN/MAX, so
  * `COUNT(*)`/`MAX(id)`/`MIN(id)` push down as metadata-only lookups —
  * the reference's "where did the last run stop" destination probe
  * (SURVEY §2A A4) without scanning a single data file. At 100 TB
  * that is the difference between a frontier probe in milliseconds
  * and a full-table scan; the same trick Delta/Iceberg play with
  * their file-level stats.
  *
  * Local java.nio I/O matches this sandbox's single-host layout; on a
  * real cluster the six filesystem touch points below would swap to
  * the Hadoop FileSystem API — the commit protocol itself (driver
  * renames, manifest is the commit point) is already the
  * cluster-correct shape: tasks never publish, only the driver does.
  */
private[sources] class RangeFileTable(path: String)
    extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft_range_sink[$path]"
  override def schema(): StructType = RangeSource.schema
  override def capabilities(): util.Set[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.STREAMING_WRITE, TableCapability.TRUNCATE).asJava

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new RangeFileScanBuilder(path)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(info.schema().fieldNames.sameElements(RangeSource.schema.fieldNames),
      s"graft_range_sink expects columns ${RangeSource.schema.fieldNames.mkString(",")}, " +
        s"got ${info.schema().fieldNames.mkString(",")}")
    new RangeFileWriteBuilder(path, info.queryId(), truncate = false)
  }
}

private[sources] case class ManifestEntry(file: String, rows: Long,
    minId: Long, maxId: Long)

private[sources] object RangeManifest {
  private val Prefix = "_manifest-v"

  /** (version, entries) of the highest committed manifest, or None. */
  def latest(path: String): Option[(Long, Seq[ManifestEntry])] = {
    val dir = Paths.get(path)
    if (!Files.isDirectory(dir)) return None
    // Files.list holds the directory fd until closed — this runs per
    // scan build AND per frontier probe, so an unclosed stream leaks
    // one fd per probe across a long sweep
    val listing = Files.list(dir)
    val versions =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(_.startsWith(Prefix))
        .flatMap(n => n.stripPrefix(Prefix).toLongOption)
        .toSeq
      finally listing.close()
    if (versions.isEmpty) None
    else {
      val v = versions.max // numeric, never lexicographic
      val lines = Files.readAllLines(dir.resolve(Prefix + v)).asScala
      val entries = lines.filter(_.nonEmpty).map { l =>
        val Array(f, r, lo, hi) = l.split(",", 4)
        ManifestEntry(f, r.toLong, lo.toLong, hi.toLong)
      }
      Some((v, entries.toSeq))
    }
  }

  /** Atomically publish version `v`. The version is claimed with a
    * SEPARATE `_lock-v<N>` create (atomic fail-if-exists) so a racing
    * writer loses loudly instead of silently clobbering, and readers —
    * which only parse `_manifest-v*` names — can never observe a
    * half-committed version. A lock WITHOUT its manifest is a stale
    * claim from a commit that crashed between claim and publish: it is
    * taken over, so crash-resume stays live. Then one ATOMIC_MOVE
    * makes the version current. */
  def publish(path: String, v: Long, entries: Seq[ManifestEntry]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"_tmp/manifest-$v-${java.util.UUID.randomUUID()}")
    Files.createDirectories(tmp.getParent)
    val body = entries
      .map(e => s"${e.file},${e.rows},${e.minId},${e.maxId}")
      .mkString("\n")
    Files.write(tmp, body.getBytes(StandardCharsets.UTF_8))
    try Files.createFile(dir.resolve(s"_lock-v$v"))
    catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        if (Files.exists(dir.resolve(Prefix + v)))
          throw new IllegalStateException(
            s"concurrent writer committed manifest v$v — retry the write", e)
      // else: stale claim from a crashed commit — take it over
    }
    Files.move(tmp, dir.resolve(Prefix + v), StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }
}

// ---------------------------------------------------------------------------
// Read side: manifest-listed CSV files, one partition per file, with
// column pruning and manifest-stats aggregate pushdown.
// ---------------------------------------------------------------------------

private[sources] class RangeFileScanBuilder(path: String)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = RangeSource.schema
  private var pushedAgg: Option[Seq[AggregateFunc]] = None

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def supported(agg: Aggregation): Boolean =
    agg.groupByExpressions().isEmpty && agg.aggregateExpressions().forall {
      case m: Max => RangeAggScan.isId(m.column)
      case m: Min => RangeAggScan.isId(m.column)
      case _: CountStar => true
      case _ => false
    }

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    supported(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    if (!supported(agg)) false
    else { pushedAgg = Some(agg.aggregateExpressions().toSeq); true }

  override def build(): Scan = pushedAgg match {
    case Some(funcs) =>
      val entries = RangeManifest.latest(path).map(_._2).getOrElse(Nil)
      val rows = entries.map(_.rows).sum
      val minId = if (rows == 0) None else Some(entries.filter(_.rows > 0).map(_.minId).min)
      val maxId = if (rows == 0) None else Some(entries.filter(_.rows > 0).map(_.maxId).max)
      new RangeAggScan(funcs, rows, minId, maxId,
        s"graft_range_sink[$path] PushedAggregates: " +
          s"[${RangeAggScan.describe(funcs)}] (manifest stats, 0 files scanned)")
    case None => new RangeFileScan(path, required)
  }
}

private[sources] case class RangeFilePartition(file: String)
  extends InputPartition

private[sources] class RangeFileScan(path: String, required: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  override def planInputPartitions(): Array[InputPartition] =
    RangeManifest.latest(path).map(_._2).getOrElse(Nil)
      .filter(_.rows > 0)
      .map(e => RangeFilePartition(s"$path/${e.file}"): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeFileReaderFactory(required.fieldNames)

  override def description(): String =
    s"graft_range_sink[$path] cols=${required.fieldNames.mkString(",")}"
}

private[sources] class RangeFileReaderFactory(cols: Array[String])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[RangeFilePartition].file
    new PartitionReader[InternalRow] {
      // kept as a field so close() releases the file fd — Files.lines
      // holds it open until the STREAM (not the iterator) is closed
      private val stream = Files.lines(Paths.get(file))
      private val it = stream.iterator()
      private var line: String = _
      override def next(): Boolean = {
        val has = it.hasNext
        if (has) line = it.next()
        has
      }
      override def get(): InternalRow = {
        val parts = line.split(",", 3)
        val vals = new Array[Any](cols.length)
        var i = 0
        while (i < cols.length) {
          vals(i) = cols(i) match {
            case "id" => parts(0).toLong
            case "cents" => parts(1).toLong
            case "bucket" => parts(2).toInt
          }
          i += 1
        }
        new GenericInternalRow(vals)
      }
      override def close(): Unit = stream.close()
    }
  }
}

// ---------------------------------------------------------------------------
// Shared single-row aggregate scan (used by both the generated table —
// range arithmetic — and the file table — manifest stats).
// ---------------------------------------------------------------------------

private[sources] object RangeAggScan {
  def isId(e: org.apache.spark.sql.connector.expressions.Expression): Boolean =
    e match {
      case r: NamedReference => r.fieldNames().sameElements(Array("id"))
      case _ => false
    }

  def describe(funcs: Seq[AggregateFunc]): String = funcs.map {
    case _: Max => "MAX(id)"
    case _: Min => "MIN(id)"
    case _: CountStar => "COUNT(*)"
    case f => f.toString
  }.mkString(", ")
}

/** Complete-pushdown aggregate scan: one partition, one row, values
  * computed from metadata (range bounds or manifest stats) — the
  * frontier probe without a scan. */
private[sources] class RangeAggScan(funcs: Seq[AggregateFunc], rows: Long,
    minId: Option[Long], maxId: Option[Long], desc: String)
    extends Scan with Batch {

  override def readSchema(): StructType = {
    val fields = funcs.zipWithIndex.map {
      case (_: CountStar, i) =>
        org.apache.spark.sql.types.StructField(s"agg_$i",
          org.apache.spark.sql.types.LongType, nullable = false)
      case (_, i) =>
        org.apache.spark.sql.types.StructField(s"agg_$i",
          org.apache.spark.sql.types.LongType, nullable = true)
    }
    StructType(fields)
  }
  override def toBatch: Batch = this
  override def description(): String = desc

  private val values: Array[Any] = funcs.map {
    case _: Max => maxId.map(Long.box).orNull
    case _: Min => minId.map(Long.box).orNull
    case _: CountStar => Long.box(rows)
    case f => throw new IllegalStateException(s"unplanned pushed agg $f")
  }.toArray

  override def planInputPartitions(): Array[InputPartition] =
    Array(RangeAggPartition(values.toSeq))

  override def createReaderFactory(): PartitionReaderFactory =
    new RangeAggReaderFactory
}

private[sources] case class RangeAggPartition(values: Seq[Any])
  extends InputPartition

private[sources] class RangeAggReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val vals = partition.asInstanceOf[RangeAggPartition].values.toArray
    new PartitionReader[InternalRow] {
      private var emitted = false
      override def next(): Boolean = { val r = !emitted; emitted = true; r }
      override def get(): InternalRow = new GenericInternalRow(
        vals.map { case l: java.lang.Long => l.longValue(): Any; case null => null })
      override def close(): Unit = ()
    }
  }
}

// ---------------------------------------------------------------------------
// Write side.
// ---------------------------------------------------------------------------

private[sources] class RangeFileWriteBuilder(path: String, queryId: String,
    truncate: Boolean) extends WriteBuilder with SupportsTruncate {

  override def truncate(): WriteBuilder =
    new RangeFileWriteBuilder(path, queryId, truncate = true)

  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new RangeFileBatchWrite(path, queryId, truncate)
    override def toStreaming: StreamingWrite = new RangeFileStreamingWrite(path)
  }
}

/** Streaming sink half (X18): one manifest commit per micro-batch,
  * IDEMPOTENT on the epoch id — Structured Streaming replays a batch
  * whose offsets committed but whose sink commit is in doubt, so a
  * replayed epoch must not double its rows. Part files are named by
  * epoch (`part-e<epoch>-<partition>.csv`), and commit() SKIPS an
  * epoch the current manifest already lists — replay becomes a no-op
  * and the source's at-least-once replay turns into end-to-end
  * exactly-once through the connector pair (the reference's sync loop
  * achieves the same with its metadata table; SourceSpec choreographs
  * the crash). Epoch ids are the CHECKPOINTED batch ids, so they stay
  * monotone across restarts of the same checkpoint lineage; a sink
  * directory belongs to ONE checkpoint dir (a fresh checkpoint would
  * restart epochs at 0 and silently skip them as replays) — the same
  * single-writer contract the batch path documents. */
private[sources] class RangeFileStreamingWrite(path: String)
    extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new RangeFileStreamingWriterFactory(path)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val prior = RangeManifest.latest(path)
    val prevEntries = prior.map(_._2).getOrElse(Nil)
    val marker = s"part-e$epochId-"
    if (prevEntries.exists(_.file.startsWith(marker))) {
      // replayed epoch: already durable, drop the staged temps
      abort(epochId, messages)
    } else {
      val fresh = messages.collect {
        case RangeFileCommit(tmp, fin, rows, lo, hi) if rows > 0 =>
          // A crash BETWEEN these renames and the manifest publish
          // leaves final-named files with no manifest entry; the
          // replayed epoch then lands here (the marker check above
          // sees no entry) and must not wedge on the leftover name.
          // Epoch-named content is deterministic, so an existing
          // final file IS this file — drop the fresh temp and adopt it.
          val target = dir.resolve(fin)
          if (Files.exists(target))
            Files.deleteIfExists(dir.resolve("_tmp").resolve(tmp))
          else
            Files.move(dir.resolve("_tmp").resolve(tmp), target,
              StandardCopyOption.ATOMIC_MOVE)
          ManifestEntry(fin, rows, lo, hi)
      }.toSeq
      RangeManifest.publish(path, prior.map(_._1).getOrElse(0L) + 1,
        prevEntries ++ fresh)
    }
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case RangeFileCommit(tmp, _, _, _, _) =>
        Files.deleteIfExists(Paths.get(path).resolve("_tmp").resolve(tmp))
      case _ =>
    }
}

private[sources] class RangeFileStreamingWriterFactory(path: String)
    extends StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new RangeFileDataWriter(path, s"e$epochId", partitionId, taskId)
}

private[sources] case class RangeFileCommit(tmpName: String, finalName: String,
    rows: Long, minId: Long, maxId: Long) extends WriterCommitMessage

private[sources] class RangeFileBatchWrite(path: String, queryId: String,
    truncate: Boolean) extends BatchWrite {

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new RangeFileWriterFactory(path, queryId)

  /** Driver-side publish: rename every reported temp into place, THEN
    * write the manifest — the one atomic commit point. A crash after
    * some renames but before the manifest leaves orphan part files no
    * reader will ever list; the next successful write supersedes them. */
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val dir = Paths.get(path)
    Files.createDirectories(dir)
    val fresh = messages.collect {
      case RangeFileCommit(tmp, fin, rows, lo, hi) if rows > 0 =>
        Files.move(dir.resolve("_tmp").resolve(tmp), dir.resolve(fin),
          StandardCopyOption.ATOMIC_MOVE)
        ManifestEntry(fin, rows, lo, hi)
    }.toSeq
    val prior = RangeManifest.latest(path)
    val prevEntries = if (truncate) Nil else prior.map(_._2).getOrElse(Nil)
    val v = prior.map(_._1).getOrElse(0L) + 1
    RangeManifest.publish(path, v, prevEntries ++ fresh)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    messages.foreach {
      case RangeFileCommit(tmp, _, _, _, _) =>
        Files.deleteIfExists(Paths.get(path).resolve("_tmp").resolve(tmp))
      case _ =>
    }
}

private[sources] class RangeFileWriterFactory(path: String, queryId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RangeFileDataWriter(path, queryId, partitionId, taskId)
}

private[sources] class RangeFileDataWriter(path: String, queryId: String,
    partitionId: Int, taskId: Long) extends DataWriter[InternalRow] {

  // attempt-unique temp name: speculative attempts never collide, and
  // an abandoned attempt's file is invisible (only commit messages
  // reach the driver's rename loop)
  private val tmpName = s"task-$queryId-$partitionId-$taskId.csv"
  private val finalName = s"part-$queryId-$partitionId.csv"
  private val tmpPath: Path = {
    val p = Paths.get(path).resolve("_tmp").resolve(tmpName)
    Files.createDirectories(p.getParent)
    p
  }
  private val out = Files.newBufferedWriter(tmpPath, StandardCharsets.UTF_8)
  private var rows = 0L
  private var minId = Long.MaxValue
  private var maxId = Long.MinValue

  override def write(row: InternalRow): Unit = {
    val id = row.getLong(0)
    out.write(s"$id,${row.getLong(1)},${row.getInt(2)}\n")
    rows += 1
    if (id < minId) minId = id
    if (id > maxId) maxId = id
  }

  override def commit(): WriterCommitMessage = {
    out.close()
    if (rows == 0) Files.deleteIfExists(tmpPath)
    RangeFileCommit(tmpName, finalName, rows, minId, maxId)
  }

  override def abort(): Unit = {
    out.close()
    Files.deleteIfExists(tmpPath)
  }

  override def close(): Unit = ()
}
