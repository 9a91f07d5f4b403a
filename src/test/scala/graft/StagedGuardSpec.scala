package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source-scan guards over the query, operator and etl packages:
  * cross-query stages memoize through [[Staged]] only, so no
  * hand-rolled concurrent memo map (with its own lock discipline and
  * key rule) comes back, scratch directories come from
  * [[Staged.scratch]] and oracle-read stages from [[Staged.publish]],
  * so no hand-built `/tmp` path (keyed by an application id, a pid or
  * a fixture name) comes back, and every
  * parquet reader or writer the migration path opens reuses a Hadoop
  * conf, so no per-file `Configuration` parse comes back, and every
  * driver-side collect in queries/ and operators/ states its bound
  * through [[Bounded.collect]]. */
class StagedGuardSpec extends AnyFunSuite {

  private val roots = Seq("queries", "operators", "etl")
    .map(p => Paths.get("src/main/scala/graft", p))
  private val banned = "ConcurrentHashMap|computeIfAbsent|putIfAbsent".r

  private def sources(root: Path): Seq[Path] = {
    val stream = Files.walk(root)
    try stream.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally stream.close()
  }

  private def lines(): Seq[(Path, String, Int)] = {
    val files = roots.flatMap(sources)
    assert(files.size > 40, s"scanned only ${files.size} files — wrong working dir?")
    for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.toSeq.zipWithIndex
    } yield (f, line, i + 1)
  }

  test("no memo map outside Staged in queries/, operators/ or etl/") {
    val hits = for {
      (f, line, n) <- lines() if f.getFileName.toString != "Staged.scala"
      m <- banned.findFirstIn(line)
    } yield s"$f:$n: $m"
    assert(hits.isEmpty, s"memo maps outside Staged:\n${hits.mkString("\n")}")
  }

  private val scratchBanned = "\"/tmp|applicationId|ProcessHandle".r

  /** Fragment of the only line that may still name `/tmp`: Derby's
    * error log. The three stages the DuckDB oracle reads after the JVM
    * has exited are placed, published and swept by [[Staged.publish]]. */
  private val allowed = Seq(
    "\"derby.stream.error.file\", \"/tmp/graft_derby.log\"")

  test("no hand-built /tmp, application-id or pid path in queries/, operators/ or etl/") {
    val hits = lines().filter { case (_, line, _) => scratchBanned.findFirstIn(line).nonEmpty }
    val bad = hits.filterNot { case (_, line, _) => allowed.exists(line.contains) }
    assert(bad.isEmpty, "scratch paths outside Staged.scratch:\n" +
      bad.map { case (f, line, n) => s"$f:$n: ${line.trim}" }.mkString("\n"))
    // every allow-list entry still names a line, so the list cannot rot
    val unused = allowed.filterNot(a => hits.exists(_._2.contains(a)))
    assert(unused.isEmpty, s"allow-list entries that match no line: $unused")
  }

  test("every driver collect in queries/ or operators/ goes through Bounded") {
    // `.collect { … }`, Scala's partial-function collect, is not matched
    val hits = lines().collect {
      case (f, line, n) if line.contains(".collect()") &&
          Seq("queries", "operators").exists(p => f.getParent.endsWith(p)) &&
          f.getFileName.toString != "Bounded.scala" => s"$f:$n"
    }
    assert(hits.isEmpty, s"raw DataFrame collects outside Bounded.collect:\n${hits.mkString("\n")}")
  }

  private val parquetOpen =
    """ParquetFileReader\.open\(|ParquetReader\.builder\(|ExampleParquetWriter\.builder\(""".r

  /** Whether the call whose `(` ends at `from` has a comma outside any
    * nested parentheses, that is, more than one argument. */
  private def twoArgs(text: String, from: Int): Boolean = {
    var depth = 1
    var i = from
    var comma = false
    while (depth > 0 && i < text.length) {
      text(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 1 => comma = true
        case _ =>
      }
      i += 1
    }
    comma
  }

  test("every parquet reader or writer under etl/ is given read options or a conf") {
    // without them parquet builds a new Configuration per file, which
    // re-parses Hadoop's default resources (about 11 ms a footer)
    val calls = for {
      f <- sources(Paths.get("src/main/scala/graft/etl"))
      text = new String(Files.readAllBytes(f), "UTF-8")
      m <- parquetOpen.findAllMatchIn(text)
    } yield {
      val ok =
        if (m.matched.startsWith("ParquetFileReader")) twoArgs(text, m.end)
        else {
          val end = text.indexOf(".build()", m.end)
          end > 0 && text.substring(m.end, end).contains(".withConf(")
        }
      (s"$f:${text.take(m.start).count(_ == '\n') + 1}: ${m.matched}", ok)
    }
    assert(calls.size >= 3, s"found only ${calls.map(_._1)} — wrong working dir?")
    val bad = calls.filterNot(_._2).map(_._1)
    assert(bad.isEmpty, s"parquet calls without read options or a conf:\n${bad.mkString("\n")}")
  }
}
