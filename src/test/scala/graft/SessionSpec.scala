package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Every main builds its session through [[Session]], and each profile
  * keeps the settings its mains ran with. Only the pure settings
  * functions are called: building a session here would reuse the shared
  * test session and overwrite its SQL conf. */
class SessionSpec extends AnyFunSuite {

  test("SparkSession.builder appears in src/main only in Session.scala") {
    val stream = Files.walk(Paths.get("src/main/scala"))
    val files = try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally stream.close()
    assert(files.size > 40, s"scanned only ${files.size} files — wrong working dir?")
    val builder = """SparkSession\s*\.\s*builder\b""".r
    val hits = for {
      f <- files if f.getFileName.toString != "Session.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if builder.findFirstIn(line).nonEmpty
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"session builders outside Session:\n${hits.mkString("\n")}")
  }

  private def sweep(cpus: String, shuffle: String) = Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> shuffle,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
    "spark.ui.enabled" -> "false")

  test("sweep settings: cpus from SPARK_GRAFT_CPUS, shuffle min(cpus, 8) or SPARK_GRAFT_SHUFFLE") {
    assert(Session.sweepSettings(Map.empty) == sweep("4", "4"))
    assert(Session.sweepSettings(Map("SPARK_GRAFT_CPUS" -> "6")) == sweep("6", "6"))
    assert(Session.sweepSettings(Map("SPARK_GRAFT_CPUS" -> "32")) == sweep("32", "8"))
    assert(Session.sweepSettings(
      Map("SPARK_GRAFT_CPUS" -> "32", "SPARK_GRAFT_SHUFFLE" -> "64")) == sweep("32", "64"))
    assert(Session.sweepSettings(Map("SPARK_GRAFT_SHUFFLE" -> "2")) == sweep("4", "2"))
  }

  test("plan settings: four threads, four shuffle partitions, AQE as asked") {
    def plans(aqe: String) = Seq(
      "spark.master" -> "local[4]",
      "spark.sql.shuffle.partitions" -> "4",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.adaptive.enabled" -> aqe,
      "spark.ui.enabled" -> "false")
    assert(Session.planSettings(adaptive = false) == plans("false"))
    assert(Session.planSettings(adaptive = true) == plans("true"))
  }
}
