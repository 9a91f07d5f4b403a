package graft.sources

import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.JavaConverters._

import org.scalatest.funsuite.AnyFunSuite

/** PROCESS-LEVEL crash/resume proof for the connector pair (X17/X18):
  * a separate JVM runs the source→sink stream and hard-dies mid-epoch
  * (Runtime.halt — no Spark teardown, no file cleanup, the
  * deterministic `kill -9`); a fresh JVM restarts from the same
  * checkpoint. Unlike the in-JVM injected failures (SourceSpec) and
  * the commit-surface replay pins (RangeSinkReplaySpec), nothing of
  * the first run's JVM survives here — exactly the crash the
  * reference's sync loop recovers from. Asserts end-to-end
  * exactly-once by manifest content (one entry set per epoch) and by
  * row coverage of the committed part files. */
class ProcessKillSpec extends AnyFunSuite with graft.TempDirs {

  private def launch(sink: String, ckpt: String, haltAfter: Int,
                     log: java.io.File): Process = {
    val cmd = graft.ChildJvm.command(
      Seq("-Xmx2g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"),
      "graft.sources.StreamKillChild", sink, ckpt, haltAfter.toString)
    new ProcessBuilder(cmd.asJava)
      .redirectErrorStream(true)
      .redirectOutput(log)
      .start()
  }

  test("kill -9 mid-stream, restart from the checkpoint -> exactly-once end to end") {
    val sink = tempDir("graft-pkill-sink")
    val ckpt = tempDir("graft-pkill-ckpt")
    val log = new java.io.File(tempDir("graft-pkill-log"), "child.log")

    // phase 1: the child halts itself after 2 non-empty batches —
    // abrupt process death with epochs still outstanding
    val p1 = launch(sink, ckpt, haltAfter = 2, log)
    assert(p1.waitFor(180, TimeUnit.SECONDS), "phase-1 child timed out")
    assert(p1.exitValue() == 137, s"expected the halt(137) death, got ${p1.exitValue()}")
    val mid = RangeManifest.latest(sink).map(_._2.map(_.rows).sum).getOrElse(0L)
    assert(mid > 0L && mid < 6000L,
      s"child must die with partial progress committed, had $mid rows")

    // phase 2: a fresh JVM resumes from the checkpoint and drains
    val p2 = launch(sink, ckpt, haltAfter = 0, log)
    assert(p2.waitFor(180, TimeUnit.SECONDS), "phase-2 child timed out")
    assert(p2.exitValue() == 0,
      s"resume child failed (${p2.exitValue()}); log:\n" +
        new String(Files.readAllBytes(log.toPath)).takeRight(2000))

    // exactly-once by manifest content: every committed file appears
    // once, and no epoch contributed two generations of part files
    val entries = RangeManifest.latest(sink).get._2
    assert(entries.map(_.file).distinct.size == entries.size)
    assert(entries.map(_.rows).sum == 6000L,
      s"manifest rows = ${entries.map(_.rows).sum}")
    // and by row coverage: the committed CSVs hold ids 0..5999 exactly once
    val ids = entries.flatMap { e =>
      val lines = Files.readAllLines(Paths.get(sink, e.file)).asScala
      lines.filter(_.nonEmpty).map(_.split(",")(0).toLong)
    }
    assert(ids.size == 6000 && ids.distinct.size == 6000)
    assert(ids.min == 0L && ids.max == 5999L)
  }
}
