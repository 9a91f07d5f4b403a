package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._

/** DataSource V2 connector invariants (graft.sources.RangeSource):
  * correctness of the generated rows, filter pushdown that actually
  * prunes planned partitions, column pruning that reaches the reader,
  * and residual (non-pushable) filters staying correct Spark-side. */
class SourceSpec extends SparkSpec {

  private def ranged(opts: (String, String)*): DataFrame = {
    val base = spark.read.format("graft.sources.RangeSource")
    opts.foldLeft(base)((r, kv) => r.option(kv._1, kv._2)).load()
  }

  private def scanOf(df: DataFrame): BatchScanExec =
    df.queryExecution.executedPlan.collectFirst { case b: BatchScanExec => b }
      .getOrElse(fail("no BatchScanExec in plan"))

  test("rows are the declared deterministic functions of id") {
    val got = ranged("lo" -> "0", "hi" -> "1000", "stride" -> "250")
      .orderBy("id").collect()
    assert(got.length == 1000)
    val r7 = got(7)
    assert(r7.getLong(0) == 7L)
    assert(r7.getLong(1) == operators.Sketches.hash60("7") % 1000000L)
    assert(r7.getInt(2) == 7)
  }

  test("id-range filters prune planned partitions, not just rows") {
    val df = ranged("lo" -> "0", "hi" -> "1000000", "stride" -> "100000")
    assert(df.rdd.getNumPartitions == 10)
    val pruned = df.filter(col("id") >= 250000L && col("id") < 350000L)
    assert(pruned.rdd.getNumPartitions == 1,
      "a one-stride id slice must plan exactly one partition")
    assert(pruned.count() == 100000L)
    // the pushed range is exact: no Spark-side re-filtering lost rows
    assert(pruned.agg(min(col("id")), max(col("id"))).head.toSeq
      == Seq(250000L, 349999L))
  }

  test("the pushed range is visible in the plan's scan description") {
    val df = ranged("lo" -> "0", "hi" -> "10000", "stride" -> "1000")
      .filter(col("id") < 3000L)
    // the scan itself reports the NARROWED range — the filter reached
    // partition planning, not just row filtering
    assert(scanOf(df).toString.contains("graft_range[0,3000)"))
    assert(df.rdd.getNumPartitions == 3)
  }

  test("column pruning reaches the reader schema") {
    val df = ranged("lo" -> "0", "hi" -> "100", "stride" -> "50")
      .select(col("bucket"))
    assert(scanOf(df).schema.fieldNames.toSeq == Seq("bucket"))
    assert(df.distinct().count() == 100)
  }

  test("non-pushable filters stay correct as residuals") {
    val df = ranged("lo" -> "0", "hi" -> "1000", "stride" -> "250")
      .filter(col("bucket") === 42)
    // bucket isn't pushable: all 4 partitions planned, rows still right
    assert(df.rdd.getNumPartitions == 4)
    assert(df.count() == 10)
    assert(df.select(col("id")).collect().forall(_.getLong(0) % 100 == 42))
  }

  test("an empty pushed range plans zero partitions") {
    val df = ranged("lo" -> "0", "hi" -> "1000", "stride" -> "250")
      .filter(col("id") > 5000L)
    assert(df.count() == 0)
    assert(df.rdd.getNumPartitions == 0)
  }

  test("streaming read drains the range exactly once, in rate-sized batches") {
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Array[Long]]
    val q = spark.readStream.format("graft.sources.RangeSource")
      .option("lo", "0").option("hi", "10000")
      .option("stride", "1000").option("rate", "2500")
      .load()
      .writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        seen(id) = df.select("id").collect().map(_.getLong(0)); ()
      }
      .start()
    try q.processAllAvailable() finally q.stop()
    // admission control: 10000 rows at rate 2500 → 4 non-empty batches
    val sizes = seen.values.map(_.length).filter(_ > 0).toSeq.sorted
    assert(sizes == Seq(2500, 2500, 2500, 2500), s"batch sizes: $sizes")
    assert(seen.values.flatten.toSeq.sorted == (0L until 10000L))
  }

  test("streaming restart resumes from the checkpointed frontier (A12 resume)") {
    val ckpt = tempDir("graft-range-ckpt")
    // keyed by batchId — the idempotent-sink discipline, so a replayed
    // trailing batch after the kill cannot double-count
    val seen = scala.collection.concurrent.TrieMap.empty[Long, Array[Long]]
    def run(injectKill: Boolean): Unit = {
      val q = spark.readStream.format("graft.sources.RangeSource")
        .option("lo", "0").option("hi", "8000")
        .option("stride", "1000").option("rate", "2000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: DataFrame, id: Long) =>
          // deterministic mid-stream crash: batch 2 dies BEFORE its
          // offset commits, so batches 0-1 are durable and batch 2
          // must replay (same id, same slice) after restart
          if (injectKill && id >= 2) sys.error("injected kill")
          seen(id) = df.select("id").collect().map(_.getLong(0)); ()
        }
        .start()
      try q.processAllAvailable()
      catch {
        // only the phase-1 injected crash is expected; a failure in
        // the injectKill=false resume phase is a real bug and must
        // surface here, not via the later coverage assert
        case _: Exception if injectKill => ()
      }
      finally q.stop()
    }
    run(injectKill = true) // phase 1: two committed batches, then crash
    val afterKill = seen.values.map(_.length).sum
    assert(afterKill == 4000, s"expected exactly 2 committed batches, got $afterKill rows")
    run(injectKill = false) // phase 2: resume from the offset log
    assert(seen.values.flatten.toSeq.sorted == (0L until 8000L),
      "resume must cover the range exactly once (by batchId)")
  }

  // -------------------------------------------------------------------
  // Write path (RangeFileTable): manifest commit, snapshot isolation,
  // aggregate pushdown from stats.
  // -------------------------------------------------------------------

  private def sinkDir(): String =
    tempDir("graft-range-sink")

  private def sinkRead(path: String): DataFrame =
    spark.read.format("graft.sources.RangeSource").option("path", path).load()

  private def writeSink(df: DataFrame, path: String, mode: String): Unit =
    df.write.format("graft.sources.RangeSource")
      .option("path", path).mode(mode).save()

  test("connector write path round-trips bit-exact") {
    val path = sinkDir()
    val src = ranged("lo" -> "0", "hi" -> "5000", "stride" -> "1000")
    writeSink(src, path, "append")
    val back = sinkRead(path)
    assert(back.count() == 5000)
    assert(back.except(src).isEmpty && src.except(back).isEmpty,
      "read-back must equal the written range exactly")
  }

  test("append accumulates; overwrite replaces the snapshot") {
    val path = sinkDir()
    writeSink(ranged("lo" -> "0", "hi" -> "100", "stride" -> "50"), path, "append")
    writeSink(ranged("lo" -> "100", "hi" -> "200", "stride" -> "50"), path, "append")
    assert(sinkRead(path).count() == 200)
    writeSink(ranged("lo" -> "500", "hi" -> "600", "stride" -> "50"), path, "overwrite")
    val after = sinkRead(path)
    assert(after.count() == 100)
    assert(after.agg(min(col("id")), max(col("id"))).head.toSeq == Seq(500L, 599L))
  }

  test("uncommitted files are invisible: only the manifest defines the snapshot") {
    val path = sinkDir()
    writeSink(ranged("lo" -> "0", "hi" -> "100", "stride" -> "100"), path, "append")
    // simulate a writer that crashed mid-commit: a part file renamed
    // into place but whose manifest never published, plus task temps
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "part-deadbeef-0.csv"), "777777,1,77\n")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(path, "_tmp"))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(path, "_tmp", "task-deadbeef-0-99.csv"), "888888,1,88\n")
    val back = sinkRead(path)
    assert(back.count() == 100, "orphans must not appear in the snapshot")
    assert(back.agg(max(col("id"))).head.getLong(0) == 99L)
    // the next successful commit supersedes, still excluding orphans
    writeSink(ranged("lo" -> "100", "hi" -> "150", "stride" -> "50"), path, "append")
    assert(sinkRead(path).count() == 150)
    assert(sinkRead(path).agg(max(col("id"))).head.getLong(0) == 149L)
  }

  test("a stale manifest version claim is taken over, not a deadlock") {
    val path = sinkDir()
    writeSink(ranged("lo" -> "0", "hi" -> "50", "stride" -> "50"), path, "append")
    // a commit that crashed between claiming v2 and publishing it
    java.nio.file.Files.createFile(java.nio.file.Paths.get(path, "_lock-v2"))
    writeSink(ranged("lo" -> "50", "hi" -> "80", "stride" -> "30"), path, "append")
    assert(sinkRead(path).count() == 80,
      "a crashed claim must not block the next commit")
  }

  test("generated table: MAX/MIN/COUNT push down as range arithmetic") {
    val df = ranged("lo" -> "0", "hi" -> "1000000", "stride" -> "1000")
      .agg(max(col("id")).as("mx"), min(col("id")).as("mn"),
        count(lit(1)).as("n"))
    // complete pushdown: the scan IS the aggregate — one metadata row,
    // zero range partitions planned
    val scan = scanOf(df)
    assert(scan.toString.contains("PushedAggregates"),
      s"scan must report the pushed aggregate, got: ${scan.toString.take(200)}")
    assert(df.head.toSeq == Seq(999999L, 0L, 1000000L))
    // filters narrow the probed bounds BEFORE the aggregate push
    val filtered = ranged("lo" -> "0", "hi" -> "1000000", "stride" -> "1000")
      .filter(col("id") < 250L).agg(max(col("id")))
    assert(filtered.head.getLong(0) == 249L)
    // empty range: MAX over nothing is null, COUNT is 0
    val empty = ranged("lo" -> "10", "hi" -> "10", "stride" -> "5")
      .agg(max(col("id")), count(lit(1)))
    val r = empty.head
    assert(r.isNullAt(0) && r.getLong(1) == 0L)
  }

  test("sink table: MAX/MIN/COUNT push down from manifest stats, zero files scanned") {
    val path = sinkDir()
    writeSink(ranged("lo" -> "1000", "hi" -> "3000", "stride" -> "500"), path, "append")
    val probe = sinkRead(path)
      .agg(max(col("id")), min(col("id")), count(lit(1)))
    val scan = scanOf(probe)
    assert(scan.toString.contains("manifest stats"),
      s"sink probe must answer from the manifest, got: ${scan.toString.take(200)}")
    assert(probe.head.toSeq == Seq(2999L, 1000L, 2000L))
    // empty sink: null frontier, zero count
    val emptyPath = sinkDir()
    val r = sinkRead(emptyPath).agg(max(col("id")), count(lit(1))).head
    assert(r.isNullAt(0) && r.getLong(1) == 0L)
  }

  test("streaming sink: source→sink stream is exactly-once across a crash (X18)") {
    val path = sinkDir()
    val ckpt = tempDir("graft-sink-ckpt")
    // a foreachBatch wrapper injects the crash AFTER the sink committed
    // batch 1 but BEFORE the offset log records it — the classic
    // in-doubt window Structured Streaming resolves by REPLAYING the
    // batch; the epoch-idempotent commit must absorb the replay
    var crashed = false
    def run(injectKill: Boolean): Unit = {
      val q = spark.readStream.format("graft.sources.RangeSource")
        .option("lo", "0").option("hi", "6000")
        .option("stride", "1000").option("rate", "2000")
        .load()
        .writeStream
        .option("checkpointLocation", ckpt)
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, id: Long) =>
          df.write.format("graft.sources.RangeSource")
            .option("path", path).mode("append").save()
          if (injectKill && id >= 1 && !crashed) {
            crashed = true
            sys.error("injected kill after sink commit, before offset commit")
          }
          ()
        }
        .start()
      try q.processAllAvailable()
      catch { case _: Exception if injectKill => () }
      finally q.stop()
    }
    run(injectKill = true)
    run(injectKill = false) // resume: batch 1 replays into the sink
    // foreachBatch uses the BATCH write path, so replay idempotency
    // comes from the keyed re-read below, not epoch skipping — assert
    // the DIRECT streaming sink next; here assert the replayed batch
    // appended duplicate rows (at-least-once), the shape foreachBatch
    // callers must dedup themselves
    val n = sinkRead(path).count()
    assert(n >= 6000, s"stream must cover the range, got $n")

    // the DIRECT streaming sink path: epoch-idempotent commits make
    // the same crash exactly-once without caller-side dedup
    val path2 = sinkDir()
    val ckpt2 = tempDir("graft-sink-ckpt2")
    def runDirect(): Unit = {
      val q = spark.readStream.format("graft.sources.RangeSource")
        .option("lo", "0").option("hi", "6000")
        .option("stride", "1000").option("rate", "2000")
        .load()
        .writeStream
        .format("graft.sources.RangeSource")
        .option("path", path2)
        .option("checkpointLocation", ckpt2)
        .start()
      try q.processAllAvailable()
      finally {
        q.stop()
        // stop() can return before the run fully deregisters its
        // checkpoint claim; a back-to-back restart then trips Spark's
        // concurrent-checkpoint guard. awaitTermination blocks until
        // the run's teardown completes.
        q.awaitTermination(30000)
        Thread.sleep(200)
      }
    }
    runDirect()
    val rows = sinkRead(path2)
    assert(rows.count() == 6000, "direct streaming sink must be exactly-once")
    assert(rows.select(col("id")).distinct().count() == 6000)
    // same-lineage re-run of the finished query: all offsets committed,
    // the restart is a no-op against the sink
    runDirect()
    assert(sinkRead(path2).count() == 6000,
      "a finished lineage re-run must not duplicate rows")
    // the epoch-REPLAY idempotency branch (an in-doubt batch re-run
    // after a crash between sink commit and offset commit) is pinned
    // at the commit-protocol level in RangeSinkReplaySpec — Spark 4's
    // concurrent-checkpoint guard rejects external commit-log surgery,
    // so the replay cannot be forced through a live stream here
  }

  test("frontier cycle source→sink through the connector (q_range_sink)") {
    val out = queries.EtlQueries.rangeSink(spark, sfDir).collect()
    assert(out.length == 100) // one row per bucket
    assert(out.map(_.getLong(1)).sum == 120000L)
    // bit-exact vs the generated source over the same range
    val want = ranged("lo" -> "0", "hi" -> "120000", "stride" -> "40000")
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .orderBy(col("bucket")).collect()
    assert(out.map(_.toSeq).toSeq == want.map(_.toSeq).toSeq)
  }
}
