package graft.etl

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}
import java.util
import scala.jdk.CollectionConverters._
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.hadoop.mapreduce.Job
import org.apache.parquet.hadoop.{ParquetOutputFormat, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.io.LocalOutputFile
import org.apache.spark.sql.{GraftSqlShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetWriteSupport}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A write-only DataSource V2 table over one local range directory of
  * [[ParquetRangeSink]], written with `mode("overwrite")`: each write
  * replaces the directory's files with the parquet files of one Spark
  * job, one file per non-empty task.
  *
  * The driver resolves the parquet settings once per write (Spark's own
  * `ParquetFileFormat.prepareWrite` into an empty Hadoop conf: the row
  * schema, timestamp and legacy-format flags, codec), and the writer
  * factory ships only those settings and the staging dir
  * `_tmp-<queryId>` inside the range directory. Row-group, page and
  * dictionary sizes are parquet's defaults, which Spark's own writer
  * also uses unless `parquet.*` keys are set on the session's Hadoop
  * conf; such keys do not reach this writer. Tasks write
  * `InternalRow`s through Spark's `ParquetWriteSupport` to parquet's
  * `LocalOutputFile`: no Hadoop `FileSystem`, no `.crc` file, no
  * `chmod`, and no copy of the session's Hadoop conf to deserialize.
  *
  * The driver commits: it deletes everything in the range directory
  * but its own staging dir (old data files, strays, a crashed write's
  * `_tmp-*`), moves each task's file in with `ATOMIC_MOVE`, writes one
  * schema-only file when every task was empty (so an empty range counts
  * 0), and removes the staging dir; an abort only removes the staging
  * dir. The directory holds one writer at a time, as the migration's
  * ranges do. */
class ParquetRangeProvider extends TableProvider {
  override def supportsExternalMetadata(): Boolean = true
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    throw new UnsupportedOperationException("a range table takes the schema of the rows written to it")
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new ParquetRangeTable(schema, ParquetRangeFiles.localDir(properties.get("path")))
}

private class ParquetRangeTable(rowSchema: StructType, dir: Path) extends Table with SupportsWrite {
  override def name(): String = s"graft_parquet_range[$dir]"
  override def schema(): StructType = rowSchema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder with SupportsTruncate {
      private var truncated = false
      override def truncate(): WriteBuilder = { truncated = true; this }
      override def build(): Write = {
        require(truncated, s"${name()} is written with overwrite only")
        val settings = ParquetRangeFiles.settings(SparkSession.active, info.schema(),
          info.options().asCaseSensitiveMap().asScala.toMap)
        new Write {
          override def toBatch: BatchWrite = new ParquetRangeWrite(dir, info.queryId(), settings)
        }
      }
    }
}

private class ParquetRangeWrite(dir: Path, queryId: String, settings: Map[String, String])
    extends BatchWrite {
  private val staging = dir.resolve(s"_tmp-$queryId")
  private def fileName(partition: Int) = f"part-$partition%05d-$queryId.parquet"

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    Files.createDirectories(staging)
    ParquetRangeWriterFactory(settings, staging.toString)
  }

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    StateStore.files(dir).filterNot(_ == staging).foreach(ParquetRangeFiles.deleteTree)
    val staged = messages.collect { case ParquetRangeFile(p, Some(name)) => (p, name) }
    staged.foreach { case (p, name) =>
      Files.move(staging.resolve(name), dir.resolve(fileName(p)), StandardCopyOption.ATOMIC_MOVE)
    }
    if (staged.isEmpty) ParquetRangeFiles.open(settings, dir.resolve(fileName(0))).close()
    ParquetRangeFiles.deleteTree(staging)
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    ParquetRangeFiles.deleteTree(staging)
}

/** What a write task receives: the parquet settings and the staging dir. */
private case class ParquetRangeWriterFactory(settings: Map[String, String], staging: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new ParquetRangeDataWriter(settings, Paths.get(staging), partitionId, taskId)
}

/** A task's file in the staging dir, None when the task had no rows. */
private case class ParquetRangeFile(partition: Int, staged: Option[String])
    extends WriterCommitMessage

private class ParquetRangeDataWriter(settings: Map[String, String], staging: Path,
    partition: Int, taskId: Long) extends DataWriter[InternalRow] {
  // attempt-unique, so a retried or speculative attempt never collides
  private val file = staging.resolve(s"$partition-$taskId.parquet")
  private var out: ParquetWriter[InternalRow] = _
  private var rows = 0L

  override def write(row: InternalRow): Unit = {
    if (out == null) out = ParquetRangeFiles.open(settings, file)
    out.write(row)
    rows += 1
  }

  override def commit(): WriterCommitMessage = {
    close()
    if (rows == 0) ParquetRangeFile(partition, None)
    else {
      // Spark's DSv2 write task records no output metrics of its own
      GraftSqlShim.setOutputMetrics(Files.size(file), rows)
      ParquetRangeFile(partition, Some(file.getFileName.toString))
    }
  }

  override def abort(): Unit = {
    close()
    Files.deleteIfExists(file)
  }

  override def close(): Unit = if (out != null) {
    val w = out
    out = null
    w.close()
  }
}

private object ParquetRangeFiles {

  /** The local directory `path` names; any other scheme fails the write. */
  def localDir(path: String): Path = {
    val uri = new HPath(path).toUri
    require(uri.getScheme == null || uri.getScheme == "file",
      s"a range table is written to a local directory, not $path")
    Paths.get(uri.getPath).toAbsolutePath
  }

  /** The Hadoop settings parquet needs to write `schema`: what Spark's
    * `prepareWrite` sets in an empty conf. */
  def settings(spark: SparkSession, schema: StructType, options: Map[String, String]): Map[String, String] = {
    val job = Job.getInstance(new Configuration(false))
    new ParquetFileFormat().prepareWrite(spark, job, options, schema)
    job.getConfiguration.iterator().asScala.map(e => e.getKey -> e.getValue).toMap
  }

  private class Builder(file: Path)
      extends ParquetWriter.Builder[InternalRow, Builder](new LocalOutputFile(file)) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration): WriteSupport[InternalRow] =
      new ParquetWriteSupport
  }

  /** A parquet writer of `settings` that creates `file`. */
  def open(settings: Map[String, String], file: Path): ParquetWriter[InternalRow] = {
    val conf = new Configuration(false)
    settings.foreach { case (k, v) => conf.set(k, v) }
    new Builder(file).withConf(conf).withCompressionCodec(ParquetOutputFormat.getCompression(conf))
      .build()
  }

  /** Deletes `p` and, when it is a directory (not a link to one), all
    * under it. */
  def deleteTree(p: Path): Unit = {
    if (Files.isDirectory(p, LinkOption.NOFOLLOW_LINKS)) StateStore.files(p).foreach(deleteTree)
    Files.deleteIfExists(p)
  }
}
