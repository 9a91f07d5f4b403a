package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.commons.io.FileUtils
import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Registry-wide zero-row robustness: EVERY registered query must run
  * to completion against a scale-factor dir whose tables are all
  * EMPTY (correct schemas, zero rows).
  *
  * Why this is a 100 TB contract and not a toy: a production run's
  * incremental slice, a pruned partition, or a filter-everything day
  * routinely hands an operator zero rows — and a library whose
  * operator throws on the empty relation (an unguarded driver-side
  * `collect()(0)`, a `head` on pinned bounds, a seeded quantizer with
  * no seeds) takes down the whole pipeline run, not one query. The
  * relational algebra itself is total on empty inputs; the operators
  * must be too.
  *
  * The spec materializes the empty twin of the fixture dir once
  * (schemas read from sf0.001, zero rows written through the same
  * parquet path the loaders use) and sweeps the FULL SparkEntry
  * registry. Queries are allowed to return zero rows or a non-empty
  * aggregate row (a count-like query legitimately emits `0`); the
  * only failure is a throw.
  */
class EmptyInputSpec extends SparkSpec {

  // a fixed dir name: the oracle-read stages are keyed by it
  private lazy val emptyDir = s"${tempDir("graft-empty")}/graft_empty_sf"

  override def beforeAll(): Unit = {
    super.beforeAll()
    Tables.names.foreach { n =>
      // events: the on-disk fixture is TIMESTAMP(NANOS), which plain
      // spark.read can't produce; take the POST-conversion schema from
      // Tables.events (ts = native µs timestamp) so the empty twin
      // round-trips through the same loader dispatch (`case _ => raw`)
      val schema: StructType =
        if (n == "events") Tables.events(spark, sfDir).schema
        else Tables.load(spark, sfDir, n).schema
      spark.createDataFrame(
          new java.util.ArrayList[Row](), schema)
        .write.mode("overwrite").parquet(s"$emptyDir/$n.parquet")
    }
  }

  /** The oracle-read stages (`Staged.publish`) leave a
    * `/tmp/graft_<stage>_stage_graft_empty_sf` link to this process's
    * `_work_<pid>` dir; no oracle reads this fixture, so both go with the
    * suite. Other fixtures' published stages are left alone. */
  override def afterAll(): Unit =
    try super.afterAll()
    finally {
      val mine = s"graft_.+_stage_graft_empty_sf(_work_${ProcessHandle.current().pid()})?".r
      val tmp = Files.list(Paths.get("/tmp"))
      try tmp.iterator().asScala.filter(p => mine.matches(p.getFileName.toString)).foreach { p =>
        if (Files.isSymbolicLink(p)) Files.delete(p) else FileUtils.deleteQuietly(p.toFile)
      } finally tmp.close()
    }

  test("every registered query survives all-empty input tables") {
    val failures = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        fn(spark, emptyDir).count() // any row count is fine; only a throw fails
      } catch {
        case e: Throwable =>
          val root = {
            var c: Throwable = e
            while (c.getCause != null && c.getCause != c) c = c.getCause
            c
          }
          failures += name -> s"${root.getClass.getSimpleName}: ${
            Option(root.getMessage).getOrElse("").linesIterator.take(1).mkString}"
      } finally {
        try { Caches.drain(); spark.catalog.clearCache() }
        catch { case _: Throwable => }
      }
    }
    assert(failures.isEmpty,
      s"${failures.size} queries throw on empty input:\n" +
        failures.map { case (n, m) => s"  $n — $m" }.mkString("\n"))
  }
}
