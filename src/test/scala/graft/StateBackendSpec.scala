package graft

import java.sql.Timestamp
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{EventRow, EventStreams}

/** Streaming state-backend invariance: the default HDFS-backed state
  * store keeps every key's state on the JVM heap — fine in tests, dead
  * at 100 TB/day key cardinalities, where the scale deployment runs
  * RocksDB (`spark.sql.streaming.stateStore.providerClass`). A state
  * backend must be a pure storage swap, but it changes the
  * serialization format, iteration order, and commit path under every
  * stateful operator — exactly the kind of swap that surfaces hidden
  * order-dependence. This spec runs the stateful streaming operators
  * (windowed aggregation, within-watermark dedup, custom
  * mapGroupsWithState counters) under BOTH providers and requires
  * identical output, so the library's streaming semantics are
  * certified on the backend a cluster deployment would actually use. */
class StateBackendSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  private val events = Seq(
    EventRow(1, ts(0), 1, "a", 1.0), EventRow(2, ts(10), 1, "a", 2.0),
    EventRow(2, ts(11), 1, "a", 2.0), // duplicate event_id for dedup
    EventRow(3, ts(61), 2, "b", 4.0), EventRow(4, ts(65), 2, "b", 8.0),
    EventRow(5, ts(130), 1, "a", 16.0), EventRow(6, ts(135), 3, "c", 32.0))

  private lazy val rocks = {
    val s = spark.newSession()
    s.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  private def collectQuery(s: SparkSession, name: String,
                           build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
                           mode: OutputMode): Seq[Seq[Any]] = {
    implicit val sqlCtx = s.sqlContext
    import s.implicits._
    val stream = MemoryStream[EventRow]
    // two batches so state genuinely persists and reloads between commits
    stream.addData(events.take(4))
    val q = build(stream.toDF()).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try {
      q.processAllAvailable()
      stream.addData(events.drop(4))
      q.processAllAvailable()
    } finally q.stop()
    s.table(name).collect().map(_.toSeq.map {
      case t: Timestamp => t.getTime
      case x => x
    }).toSeq.sortBy(_.mkString("|"))
  }

  test("windowed aggregation state is backend-invariant (HDFS heap vs RocksDB)") {
    val a = collectQuery(spark, "sb_tumble_h",
      EventStreams.tumblingCounts, OutputMode.Complete())
    val b = collectQuery(rocks, "sb_tumble_r",
      EventStreams.tumblingCounts, OutputMode.Complete())
    assert(a.nonEmpty && a == b)
  }

  test("within-watermark dedup state is backend-invariant") {
    val a = collectQuery(spark, "sb_dedup_h", EventStreams.dedup,
      OutputMode.Append())
    val b = collectQuery(rocks, "sb_dedup_r", EventStreams.dedup,
      OutputMode.Append())
    assert(a.nonEmpty && a == b)
    // the duplicate event_id=2 must be dropped under both backends
    assert(a.size == events.size - 1)
  }

  test("mapGroupsWithState custom state is backend-invariant") {
    def build(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import df.sparkSession.implicits._
      EventStreams.runningUserStats(df.as[EventRow]).toDF()
    }
    val a = collectQuery(spark, "sb_mgws_h", build, OutputMode.Update())
    val b = collectQuery(rocks, "sb_mgws_r", build, OutputMode.Update())
    assert(a.nonEmpty && a == b)
  }

  // ---- the migration state store ----

  import graft.etl.{BatchRecord, StateStore}

  private def tmp(): String =
    tempDir("graft-state")

  private def rec(lo: Long, hi: Long, st: String, run: Long) =
    BatchRecord("t", lo, hi, hi - lo, st, run)

  test("state store reads the Spark-written layout and continues from it") {
    import spark.implicits._
    val dir = tmp()
    val old = Seq(rec(-1, 10, "DONE", 1), rec(10, 20, "ERROR", 2), rec(20, 30, "DONE", 3))
    // the layout earlier versions wrote: one Spark parquet write + marker
    old.toDS().coalesce(1).write.parquet(s"$dir/v=0")
    java.nio.file.Files.createFile(java.nio.file.Paths.get(dir, "v=0", "_COMMITTED"))
    val st = new StateStore(spark, dir)
    assert(st.currentVersion == 0L && st.read() == old)
    st.upsert(Seq(rec(10, 20, "DONE", 4), rec(30, 40, "DONE", 4)))
    val want = Seq(rec(-1, 10, "DONE", 1), rec(20, 30, "DONE", 3),
      rec(10, 20, "DONE", 4), rec(30, 40, "DONE", 4))
    assert(st.currentVersion == 1L && st.read() == want)
    assert(new StateStore(spark, dir).read() == want)
    // and Spark still reads what the store writes
    assert(spark.read.parquet(s"$dir/v=1").as[BatchRecord].collect().toSeq == want)
  }

  test("state store versions have no .crc file, read back through Spark and continue") {
    import spark.implicits._
    val dir = tmp()
    val first = Seq(rec(-1, 10, "DONE", 1), rec(10, 20, "ERROR", 2))
    new StateStore(spark, dir).upsert(first)
    val v0 = java.nio.file.Paths.get(dir, "v=0")
    val names = v0.toFile.list().toSeq.sorted
    assert(names == Seq("_COMMITTED", "part-00000.parquet"), names)
    assert(spark.read.parquet(v0.toString).as[BatchRecord].collect().toSeq == first)
    // a new instance reads v=0 from disk and the next upsert builds on it
    val next = new StateStore(spark, dir)
    next.upsert(Seq(rec(10, 20, "DONE", 3), rec(20, 30, "DONE", 3)))
    val want = Seq(rec(-1, 10, "DONE", 1), rec(10, 20, "DONE", 3), rec(20, 30, "DONE", 3))
    assert(next.currentVersion == 1L && new StateStore(spark, dir).read() == want)
    assert(spark.read.parquet(s"$dir/v=1").as[BatchRecord].collect().toSeq == want)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(dir, "v=1", ".part-00000.parquet.crc")))
  }

  test("state store: two instances on one dir each see the other's commit") {
    val dir = tmp()
    val a = new StateStore(spark, dir)
    val b = new StateStore(spark, dir)
    a.upsert(Seq(rec(-1, 10, "DONE", 1)))
    assert(b.read() == Seq(rec(-1, 10, "DONE", 1)))
    b.upsert(Seq(rec(10, 20, "DONE", 2)))
    assert(a.frontier("t") == 20L)
    a.upsert(Seq(rec(20, 30, "PENDING", 3)))
    assert(b.read() == Seq(rec(-1, 10, "DONE", 1), rec(10, 20, "DONE", 2),
      rec(20, 30, "PENDING", 3)))
    assert(b.pending("t").map(_.pkLower) == Seq(20L))
  }

  test("state store: a failed upsert leaves read() on the last committed version") {
    val dir = tmp()
    val st = new StateStore(spark, dir)
    st.upsert(Seq(rec(-1, 10, "DONE", 1)))
    val before = st.read()
    // a regular file where the next version's directory must go
    val blocker = java.nio.file.Paths.get(dir, "v=1")
    java.nio.file.Files.write(blocker, "x".getBytes("UTF-8"))
    intercept[java.io.IOException](st.upsert(Seq(rec(10, 20, "DONE", 2))))
    assert(st.currentVersion == 0L && st.read() == before)
    assert(new StateStore(spark, dir).read() == before)
    // an uncommitted v=1 left by a crashed writer is invisible, then replaced
    java.nio.file.Files.delete(blocker)
    java.nio.file.Files.createDirectories(blocker)
    java.nio.file.Files.write(blocker.resolve("part-00000.parquet"), "torn".getBytes("UTF-8"))
    assert(new StateStore(spark, dir).read() == before)
    st.upsert(Seq(rec(10, 20, "DONE", 2)))
    assert(new StateStore(spark, dir).read() == before :+ rec(10, 20, "DONE", 2))
  }

  test("state store keeps the last 8 committed versions and every record") {
    val dir = tmp()
    val st = new StateStore(spark, dir)
    val recs = (0 until 12).map(i => rec(i * 10L, i * 10L + 10, "DONE", i))
    recs.foreach(r => st.upsert(Seq(r)))
    val versions = java.nio.file.Paths.get(dir).toFile.list().toSeq
      .filter(_.startsWith("v=")).sortBy(_.drop(2).toInt)
    assert(versions == (4 to 11).map(v => s"v=$v"), versions)
    assert(versions.forall(v =>
      java.nio.file.Files.exists(java.nio.file.Paths.get(dir, v, "_COMMITTED"))))
    assert(st.currentVersion == 11L && st.read() == recs)
    assert(new StateStore(spark, dir).read() == recs)
  }
}
