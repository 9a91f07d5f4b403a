package graft

import java.nio.file.{Files, LinkOption, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import graft.etl.PosixLocalFileSystem

/** The one process-wide memo for cross-query stages: relations several
  * registered queries derive from the same fixture dir (the price
  * census, shingle profiles and overlaps, the trade graph, the monthly
  * series, a staged JDBC table), and the scratch directories of queries
  * that round-trip data through files. Each is built once per process
  * and served to every later caller. It also owns the three stages the
  * DuckDB oracle reads after the JVM has exited ([[publish]]), which
  * are rewritten on every call.
  *
  *  - Key: (stage name, `dir` made absolute and normalized), so `dir`
  *    and `dir/` are one entry. Symlinks are not resolved: a symlinked
  *    data dir is its own entry.
  *  - Build: runs outside any lock; the first successful result is
  *    published with `putIfAbsent` and every caller gets that one.
  *    Concurrent first callers may each build (every stage is
  *    deterministic), but none waits on another key's build, and a
  *    build may itself read another stage. A build that throws leaves
  *    no entry, so the next call builds again.
  *  - No invalidation: files rewritten under the same dir mid-process
  *    would be served stale; fixtures never change under a live process.
  */
object Staged {

  private val memo = new java.util.concurrent.ConcurrentHashMap[(String, Path), AnyRef]()

  /** `build`'s value for (stage, dir), built on first use. One stage
    * name must always be used with one value type. */
  def once[A <: AnyRef](stage: String, dir: String)(build: => A): A = {
    val key = (stage, Paths.get(dir).toAbsolutePath.normalize)
    memo.get(key) match {
      case null =>
        val built = build
        memo.putIfAbsent(key, built) match {
          case null => built
          case winner => winner.asInstanceOf[A]
        }
      case hit => hit.asInstanceOf[A]
    }
  }

  /** Per-process directory under `java.io.tmpdir` holding every parquet
    * stage; one shutdown hook deletes it when the JVM exits. */
  private[graft] lazy val root: Path = {
    val r = Files.createTempDirectory("graft_stage_")
    sys.addShutdownHook(FileUtils.deleteQuietly(r.toFile))
    r
  }

  /** A new empty directory under [[root]] for one build of `stage`:
    * racing builders never write to the same files. */
  private[graft] def freshDir(stage: String): String =
    Files.createTempDirectory(root, s"${stage}_").toString

  /** The scratch directory of `stage` for `dir`: a [[freshDir]] on the
    * first call, the same directory on every later one. For a query
    * that writes files and reads them back on every call; it gets its
    * own directory per fixture dir and process, and nothing survives
    * the JVM. */
  def scratch(stage: String, dir: String): String =
    once(stage, dir)(freshDir(stage))

  /** A stage materialized as parquet: `build`'s relation is written to
    * a [[freshDir]] once per (stage, dir), through
    * [[PosixLocalFileSystem.writeOptions]] so the write forks no
    * `chmod`. Every call reads the staged files back with the schema
    * recorded at build time, so a memo hit starts no Spark job. */
  def parquet(s: SparkSession, stage: String, dir: String)(
      build: => DataFrame): DataFrame = {
    val (path, schema) = once[(String, StructType)](stage, dir) {
      val path = freshDir(stage)
      build.write.mode("overwrite").options(PosixLocalFileSystem.writeOptions).parquet(path)
      (path, s.read.parquet(path).schema)
    }
    s.read.schema(schema).parquet(path)
  }

  /** The fixed `/tmp` path of a [[publish]]ed stage for the fixture dir
    * named `fixture`: the oracle SQL names it. */
  private def published(stage: String, fixture: String): Path =
    Paths.get(s"/tmp/graft_${stage}_stage_$fixture")

  /** The published path of `stage` that the oracle SQL reads. The SQL is
    * a static string, so it is keyed by `SPARK_GRAFT_ORACLE_SF` (a
    * fixture dir's name, default `sf0.01`): a check at another scale
    * must set it, or the oracle reads another fixture's files. */
  def publishedDir(stage: String): String =
    published(stage, sys.env.getOrElse("SPARK_GRAFT_ORACLE_SF", "sf0.01")).toString

  /** Writes a stage that the DuckDB oracle reads after the JVM has
    * exited, on every call (no memo), and returns the directory
    * written, for the caller to read back:
    *  - `write` fills this process's emptied work dir
    *    `<published>_work_<pid>`, so two processes on one fixture never
    *    clear each other's files mid-run;
    *  - one atomic move points the symlink at the published path for
    *    `dir`'s name at it, so a reader always sees a whole snapshot
    *    (every write is deterministic, so the last publisher wins);
    *  - the work dirs of exited processes are deleted, unless linked.
    * A real directory at the published path (the layout before the
    * link) is deleted, as it cannot be replaced atomically. */
  def publish(stage: String, dir: String)(write: String => Unit): String = {
    val link = published(stage, new java.io.File(dir).getName)
    val work = Paths.get(s"${link}_work_${ProcessHandle.current().pid()}")
    FileUtils.deleteDirectory(work.toFile)
    write(work.toString)
    if (Files.isDirectory(link, LinkOption.NOFOLLOW_LINKS)) FileUtils.deleteDirectory(link.toFile)
    val tmp = Paths.get(s"$work.link")
    Files.deleteIfExists(tmp)
    Files.createSymbolicLink(tmp, work)
    Files.move(tmp, link, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    val linked = link.getParent.resolve(Files.readSymbolicLink(link))
    val workName = s"${java.util.regex.Pattern.quote(link.getFileName.toString)}_work_(\\d+)".r
    val siblings = Files.list(link.getParent)
    try siblings.iterator().asScala.foreach { d =>
      d.getFileName.toString match {
        case workName(pid) if d != linked && !ProcessHandle.of(pid.toLong).isPresent =>
          FileUtils.deleteDirectory(d.toFile)
        case _ =>
      }
    } finally siblings.close()
    work.toString
  }
}
