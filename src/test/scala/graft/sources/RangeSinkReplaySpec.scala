package graft.sources

import java.nio.file.{Files, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** Commit-protocol pins for the streaming sink's epoch idempotency —
  * the branch a live stream cannot be forced through (Spark 4's
  * concurrent-checkpoint guard rejects the commit-log surgery that
  * would trigger a replay), exercised here directly at the
  * StreamingWrite surface: a replayed epoch's commit must be a no-op
  * that also cleans its staged temps, and a NEW epoch after the
  * replay must commit normally. */
class RangeSinkReplaySpec extends AnyFunSuite with graft.TempDirs {

  private def stageTemp(path: String, epoch: Long, partition: Int,
                        rows: Seq[(Long, Long, Int)]): RangeFileCommit = {
    val w = new RangeFileDataWriter(path, s"e$epoch", partition, partition * 100L)
    rows.foreach { case (id, cents, bucket) =>
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](id, cents, bucket)))
    }
    w.commit().asInstanceOf[RangeFileCommit]
  }

  private def committedRows(path: String): Seq[String] =
    RangeManifest.latest(path).map(_._2).getOrElse(Nil)
      .flatMap(e => scala.jdk.CollectionConverters
        .IteratorHasAsScala(Files.lines(Paths.get(path, e.file)).iterator())
        .asScala.toSeq)

  test("a replayed epoch commit is a no-op that drops its staged temps") {
    val path = tempDir("graft-sink-replay")
    val sw = new RangeFileStreamingWrite(path)
    // epoch 0 commits normally
    sw.commit(0L, Array(stageTemp(path, 0L, 0, Seq((1L, 10L, 1), (2L, 20L, 2)))))
    assert(committedRows(path).sorted == Seq("1,10,1", "2,20,2"))
    val v1 = RangeManifest.latest(path).get._1
    // the SAME epoch replays (in-doubt batch re-run): new temps staged,
    // commit must skip them, publish nothing, and clean the temps
    val replay = stageTemp(path, 0L, 0, Seq((1L, 10L, 1), (2L, 20L, 2)))
    sw.commit(0L, Array(replay))
    assert(committedRows(path).sorted == Seq("1,10,1", "2,20,2"),
      "replayed epoch must not duplicate rows")
    assert(RangeManifest.latest(path).get._1 == v1,
      "replayed epoch must not publish a new manifest version")
    assert(!Files.exists(Paths.get(path, "_tmp", replay.tmpName)),
      "replayed epoch's staged temp must be cleaned")
    // the NEXT epoch still commits normally after the replay
    sw.commit(1L, Array(stageTemp(path, 1L, 0, Seq((3L, 30L, 3)))))
    assert(committedRows(path).sorted == Seq("1,10,1", "2,20,2", "3,30,3"))
  }

  test("replay after a crash between rename and manifest publish recovers") {
    val path = tempDir("graft-sink-crashwin")
    val sw = new RangeFileStreamingWrite(path)
    sw.commit(0L, Array(stageTemp(path, 0L, 0, Seq((1L, 10L, 1)))))
    // simulate the in-doubt crash window for epoch 1: the driver
    // renamed the part file into place but died BEFORE publishing the
    // manifest — the final-named file exists with no manifest entry
    val orphan = stageTemp(path, 1L, 0, Seq((2L, 20L, 2)))
    Files.move(Paths.get(path, "_tmp", orphan.tmpName),
      Paths.get(path, orphan.finalName))
    assert(RangeManifest.latest(path).get._2.forall(!_.file.startsWith("part-e1-")))
    // restart replays epoch 1 with freshly staged temps; the commit
    // must adopt the already-renamed file instead of wedging on it
    val replay = stageTemp(path, 1L, 0, Seq((2L, 20L, 2)))
    sw.commit(1L, Array(replay))
    assert(committedRows(path).sorted == Seq("1,10,1", "2,20,2"),
      "recovered epoch must appear exactly once")
    assert(!Files.exists(Paths.get(path, "_tmp", replay.tmpName)),
      "the replay's fresh temp must be dropped in favor of the adopted file")
    // and a second replay of the SAME epoch is now a plain no-op
    val replay2 = stageTemp(path, 1L, 0, Seq((2L, 20L, 2)))
    sw.commit(1L, Array(replay2))
    assert(committedRows(path).sorted == Seq("1,10,1", "2,20,2"))
  }

  test("manifest aggregate stats reflect streaming commits") {
    val path = tempDir("graft-sink-replay2")
    val sw = new RangeFileStreamingWrite(path)
    sw.commit(0L, Array(stageTemp(path, 0L, 0, Seq((5L, 1L, 5), (9L, 2L, 9)))))
    sw.commit(1L, Array(stageTemp(path, 1L, 0, Seq((7L, 3L, 7)))))
    val entries = RangeManifest.latest(path).get._2
    assert(entries.map(_.rows).sum == 3)
    assert(entries.map(_.minId).min == 5L && entries.map(_.maxId).max == 9L)
  }
}
