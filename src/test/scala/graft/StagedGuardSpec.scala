package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guard: cross-query stages under the query, operator and
  * etl packages memoize through [[Staged]] only, so no hand-rolled
  * concurrent memo map (with its own lock discipline and key rule)
  * comes back. */
class StagedGuardSpec extends AnyFunSuite {

  private val roots = Seq("queries", "operators", "etl")
    .map(p => Paths.get("src/main/scala/graft", p))
  private val banned = "ConcurrentHashMap|computeIfAbsent|putIfAbsent".r

  private def sources(root: Path): Seq[Path] = {
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }

  test("no memo map outside Staged in queries/, operators/ or etl/") {
    val files = roots.flatMap(sources)
    assert(files.size > 40, s"scanned only ${files.size} files — wrong working dir?")
    val hits = for {
      f <- files if f.getFileName.toString != "Staged.scala"
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      m <- banned.findFirstIn(line)
    } yield s"$f:${i + 1}: $m"
    assert(hits.isEmpty, s"memo maps outside Staged:\n${hits.mkString("\n")}")
  }
}
