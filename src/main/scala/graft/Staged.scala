package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one process-wide memo for cross-query stages: relations several
  * registered queries derive from the same fixture dir (the price
  * census, shingle profiles and overlaps, the trade graph, the monthly
  * series, a staged JDBC table), and the scratch directories of queries
  * that round-trip data through files. Each is built once per process
  * and served to every later caller.
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
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
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

  /** A stage materialized as parquet: `write` writes the relation to
    * the path it is given (a [[freshDir]]), once per (stage, dir).
    * Every call reads the staged files back with the schema recorded at
    * build time, so a memo hit starts no Spark job. */
  def parquet(s: SparkSession, stage: String, dir: String)(
      write: String => Unit): DataFrame = {
    val (path, schema) = once[(String, StructType)](stage, dir) {
      val path = freshDir(stage)
      write(path)
      (path, s.read.parquet(path).schema)
    }
    s.read.schema(schema).parquet(path)
  }
}
