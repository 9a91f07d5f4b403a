package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.streaming.{ClosedSession, EventRow, EventStreams, UserRecent}

/** Structured Streaming operators via MemoryStream, plus batch/stream
  * equivalence: the streaming aggregations must agree with the batch
  * twins that carry the DuckDB oracle. */
class StreamingSpec extends SparkSpec {

  private def ts(minutes: Long): Timestamp =
    new Timestamp(1700000000000L + minutes * 60000L)

  private def mkEvents(rows: (Long, Long, Long, String, Double)*): Seq[EventRow] =
    rows.map { case (id, min, uid, typ, v) => EventRow(id, ts(min), uid, typ, v) }

  test("tumbling window stream agg matches batch aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val events = mkEvents(
      (1, 0, 1, "a", 1.0), (2, 10, 1, "a", 2.0), (3, 61, 1, "a", 4.0),
      (4, 65, 2, "b", 8.0), (5, 130, 1, "a", 16.0))
    stream.addData(events)
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("tumbling")
      .outputMode(OutputMode.Update()).start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("tumbling")
      .groupBy(col("win_start"), col("event_type"))
      .agg(max(col("n")).as("n")) // update mode re-emits; take latest
      .collect().map(r => (r.getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    val batch = events.toDF()
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getStruct(0).getTimestamp(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(streamed == batch)
  }

  test("stream-static enrichment joins every event to its dimension row") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val dim = Seq((1L, "gold"), (2L, "trial")).toDF("user_id", "segment")
    val q = EventStreams.enrichWithDimension(stream.toDF(), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode(OutputMode.Append()).start()
    stream.addData(mkEvents((1, 0, 1, "a", 1.0), (2, 5, 2, "b", 2.0), (3, 9, 1, "a", 4.0)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("enriched")
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    // inner join against the static side: every event of a known user
    // appears exactly once, carrying that user's dimension attribute
    assert(rows == Map(1L -> "gold", 2L -> "trial", 3L -> "gold"))
  }

  test("idempotent batch sink: re-writing a batch overwrites instead of duplicating") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = tempDir("graft-sink")
    val ckpt = tempDir("graft-ckpt")
    val stream = MemoryStream[EventRow]
    stream.addData(mkEvents((1, 0, 1, "a", 1.0), (2, 5, 2, "b", 2.0)))
    val q1 = EventStreams.idempotentBatchSink(stream.toDF(), base, ckpt)
    q1.awaitTermination()
    val afterFirst = spark.read.parquet(base).count()
    // simulate the replay window: the same batch directory written
    // again must OVERWRITE (same row count), not append
    val replayed = mkEvents((1, 0, 1, "a", 1.0), (2, 5, 2, "b", 2.0)).toDF()
    replayed.write.mode("overwrite").parquet(s"$base/batch_id=0")
    assert(spark.read.parquet(base).count() == afterFirst)
    // new data lands in a NEW batch dir and adds rows
    stream.addData(mkEvents((3, 10, 1, "a", 4.0)))
    val q2 = EventStreams.idempotentBatchSink(stream.toDF(), base, ckpt)
    q2.awaitTermination()
    assert(spark.read.parquet(base).count() == afterFirst + 1)
  }

  test("watermark drops events later than 30 minutes behind the max") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.tumblingCounts(stream.toDF())
      .writeStream.format("memory").queryName("late")
      .outputMode(OutputMode.Update()).start()
    stream.addData(mkEvents((1, 200, 1, "a", 1.0)))
    q.processAllAvailable() // watermark advances to minute 170
    stream.addData(mkEvents((2, 10, 1, "a", 1.0))) // far too late: window [0,60) < watermark
    q.processAllAvailable(); q.stop()
    val wins = spark.table("late").select(col("win_start")).distinct()
      .collect().map(_.getTimestamp(0)).toSet
    // only the hour window containing ts(200) appears; the window of the
    // late event (the hour containing ts(10)) was dropped by the watermark
    assert(wins.size == 1, s"windows: $wins")
    assert(wins.head.getTime > ts(100).getTime, s"late window leaked: $wins")
  }

  test("streaming dedup removes within-watermark duplicate event_ids") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    stream.addData(mkEvents(
      (1, 0, 1, "a", 1.0), (1, 1, 1, "a", 1.0), (2, 2, 1, "b", 2.0)))
    val q = EventStreams.dedup(stream.toDF())
      .writeStream.format("memory").queryName("dedup")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    assert(spark.table("dedup").select(col("event_id")).collect()
      .map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("mapGroupsWithState accumulates per-user state across batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.runningUserStats(stream.toDS())
      .writeStream.format("memory").queryName("userstats")
      .outputMode(OutputMode.Update()).start()
    stream.addData(mkEvents((1, 0, 7, "a", 1.5), (2, 1, 7, "a", 2.5)))
    q.processAllAvailable()
    stream.addData(mkEvents((3, 2, 7, "b", 4.0)))
    q.processAllAvailable(); q.stop()
    val last = spark.table("userstats").filter(col("user_id") === 7)
      .orderBy(col("n_events").desc).collect().head
    assert(last.getAs[Long]("n_events") == 3L)
    assert(math.abs(last.getAs[Double]("total_value") - 8.0) < 1e-9)
  }

  test("streaming KMV cardinality state agrees with the batch sketch exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.runningDistinctUsers(stream.toDS(), k = 8)
      .writeStream.format("memory").queryName("kmvcard")
      .outputMode(OutputMode.Update()).start()
    // 30 users across two micro-batches, duplicates included — the
    // sketch must be insertion-order- and batch-boundary-free
    stream.addData(mkEvents((1 to 20).map(i =>
      (i.toLong, i.toLong, (i % 12).toLong, "a", 1.0)): _*))
    q.processAllAvailable()
    stream.addData(mkEvents((21 to 40).map(i =>
      (i.toLong, i.toLong, (i % 30).toLong, "a", 1.0)): _*))
    q.processAllAvailable(); q.stop()
    val last = spark.table("kmvcard").filter(col("event_type") === "a")
      .orderBy(col("n_seen").desc).collect().head
    assert(last.getAs[Long]("n_seen") == 40L)
    // batch twin over the same prefix: same hashes, same k, same
    // estimate bit-for-bit
    val kmv = udaf(new graft.operators.KmvSketch(8))
    val batch = ((1 to 20).map(_ % 12) ++ (21 to 40).map(_ % 30))
      .map(_.toLong).toDF("user_id")
      .select(expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), " +
        "16, 10) AS BIGINT)").as("h"))
      .agg(kmv(col("h"))).head.getDouble(0)
    assert(last.getAs[Double]("est_users") == batch,
      s"stream ${last.getAs[Double]("est_users")} != batch $batch")
  }

  test("streaming HLL register state agrees with the batch sketch exactly") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.runningDistinctUsersHll(stream.toDS(), p = 8)
      .writeStream.format("memory").queryName("hllcard")
      .outputMode(OutputMode.Update()).start()
    stream.addData(mkEvents((1 to 20).map(i =>
      (i.toLong, i.toLong, (i % 12).toLong, "a", 1.0)): _*))
    q.processAllAvailable()
    stream.addData(mkEvents((21 to 40).map(i =>
      (i.toLong, i.toLong, (i % 30).toLong, "a", 1.0)): _*))
    q.processAllAvailable(); q.stop()
    val last = spark.table("hllcard").filter(col("event_type") === "a")
      .orderBy(col("n_seen").desc).collect().head
    assert(last.getAs[Long]("n_seen") == 40L)
    // batch twin over the same prefix: same registers, same estimate
    val hll = udaf(new graft.operators.HllSketch(8))
    val batch = ((1 to 20).map(_ % 12) ++ (21 to 40).map(_ % 30))
      .map(_.toLong).toDF("user_id")
      .select(expr("CAST(conv(substring(md5(CAST(user_id AS STRING)), 1, 15), " +
        "16, 10) AS BIGINT)").as("h"))
      .agg(hll(col("h"))).head.getDouble(0)
    assert(last.getAs[Double]("est_users") == batch,
      s"stream ${last.getAs[Double]("est_users")} != batch $batch")
  }

  test("streaming bitmap state counts distinct users exactly across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.runningExactUsers(stream.toDS(), universe = 1 << 10)
      .writeStream.format("memory").queryName("bmcard")
      .outputMode(OutputMode.Update()).start()
    // same duplicate-heavy shape as the KMV test, but the bitmap must
    // be EXACT: {0..11} = 12 distinct after batch one; batch two adds
    // {21..29} for 21 cumulative
    stream.addData(mkEvents((1 to 20).map(i =>
      (i.toLong, i.toLong, (i % 12).toLong, "a", 1.0)): _*))
    q.processAllAvailable()
    stream.addData(mkEvents((21 to 40).map(i =>
      (i.toLong, i.toLong, (i % 30).toLong, "a", 1.0)): _*))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("bmcard").filter(col("event_type") === "a")
      .orderBy(col("n_seen")).collect()
    assert(rows.map(_.getAs[Long]("exact_users")).toSeq == Seq(12L, 21L),
      "per-batch exact cardinalities")
    assert(rows.last.getAs[Long]("n_seen") == 40L)
  }

  test("streaming heap state keeps the exact batch top-k across micro-batches") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.runningTopK(stream.toDS(), k = 3)
      .writeStream.format("memory").queryName("topkstate")
      .outputMode(OutputMode.Update()).start()
    // values chosen so the top-3 changes across the batch boundary and
    // includes a tie broken by event_id
    val batch1 = Seq((1L, 1L, 1L, "a", 5.0), (2L, 2L, 2L, "a", 9.0),
      (3L, 3L, 3L, "a", 1.0), (4L, 4L, 4L, "a", 9.0))
    val batch2 = Seq((5L, 5L, 5L, "a", 7.0), (6L, 6L, 6L, "a", 0.5))
    stream.addData(mkEvents(batch1: _*))
    q.processAllAvailable()
    stream.addData(mkEvents(batch2: _*))
    q.processAllAvailable(); q.stop()
    val last = spark.table("topkstate").filter(col("event_type") === "a")
      .orderBy(col("n_seen").desc).collect().head
    // batch model over the full prefix: (micros DESC, event_id ASC) take 3
    val model = (batch1 ++ batch2)
      .map(e => (math.floor(e._5 * 1e6).toLong, e._1))
      .sortBy { case (v, id) => (-v, id) }.take(3)
    assert(last.getAs[Long]("n_seen") == 6L)
    val gotIds = last.getSeq[Long](last.fieldIndex("top_ids")).toList
    val gotVals = last.getSeq[Long](last.fieldIndex("top_vals")).toList
    assert(gotIds == model.map(_._2).toList, s"ids $gotIds != ${model.map(_._2)}")
    assert(gotVals == model.map(_._1).toList)
  }

  test("flatMapGroupsWithState emits each session exactly once, on close") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val stream = MemoryStream[EventRow]
    val q = EventStreams.closedSessions(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions")
      .outputMode(OutputMode.Append()).start()
    // session A: user 1, minutes 0-25 (3 events); closed in-batch by
    // the minute-100 event (gap 75 > 30)
    stream.addData(mkEvents(
      (1, 0, 1, "a", 1.0), (2, 10, 1, "a", 1.0), (3, 25, 1, "a", 1.0),
      (4, 100, 1, "a", 1.0)))
    q.processAllAvailable()
    val afterBatch1 = spark.table("sessions").as[ClosedSession].collect()
    assert(afterBatch1.map(s => (s.user_id, s.n_events)).toSeq == Seq((1L, 3L)))
    // advancing the watermark far past 100+30 times out session B
    // (the timeout path, not the in-batch close)
    stream.addData(mkEvents((5, 400, 2, "b", 1.0)))
    q.processAllAvailable()
    stream.addData(mkEvents((6, 900, 2, "b", 1.0)))
    q.processAllAvailable(); q.stop()
    val all = spark.table("sessions").as[ClosedSession].collect()
      .map(s => (s.user_id, s.n_events)).sorted.toSeq
    // session B (user 1 @100, 1 event) and user 2's minute-400 session
    // are both closed; user 2's minute-900 session is still open
    assert(all == Seq((1L, 3L), (1L, 1L), (2L, 1L)).sorted)
  }

  test("transformWithState (state API v2) twin matches flatMapGroupsWithState exactly") {
    // v2 state (multiple column families: state variables + timers)
    // requires the RocksDB provider — the backend a scale deployment
    // runs anyway (StateBackendSpec)
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx = rocks.sqlContext
    // identical input schedule to the X9 test — both the in-batch
    // close path (handleInputRows) and the watermark-timer path
    // (handleExpiredTimer replaces hasTimedOut) must land the SAME
    // three sessions, each exactly once
    val stream = MemoryStream[EventRow]
    val q = EventStreams.closedSessionsV2(stream.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("sessions_v2")
      .outputMode(OutputMode.Append()).start()
    stream.addData(mkEvents(
      (1, 0, 1, "a", 1.0), (2, 10, 1, "a", 1.0), (3, 25, 1, "a", 1.0),
      (4, 100, 1, "a", 1.0)))
    q.processAllAvailable()
    val afterBatch1 = rocks.table("sessions_v2").as[ClosedSession].collect()
    assert(afterBatch1.map(s => (s.user_id, s.n_events)).toSeq == Seq((1L, 3L)),
      "in-batch close path diverged from the v1 emitter")
    stream.addData(mkEvents((5, 400, 2, "b", 1.0)))
    q.processAllAvailable()
    stream.addData(mkEvents((6, 900, 2, "b", 1.0)))
    q.processAllAvailable(); q.stop()
    val all = rocks.table("sessions_v2").as[ClosedSession].collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events)).sorted.toSeq
    // full-resolution comparison (starts/ends too, not just counts):
    // the v2 emitter must reproduce v1's exact session boundaries
    val expected = Seq(
      (1L, ts(0).getTime, ts(25).getTime, 3L),
      (1L, ts(100).getTime, ts(100).getTime, 1L),
      (2L, ts(400).getTime, ts(400).getTime, 1L)).sorted
    assert(all == expected, s"v2 sessions $all != v1 model $expected")
  }

  test("ListState recent-events buffer: stream equals batch last-N across splits") {
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx = rocks.sqlContext
    val all = mkEvents(
      (1, 0, 1, "a", 1.0), (2, 5, 1, "a", 1.0), (3, 3, 1, "a", 1.0),
      (4, 9, 1, "a", 1.0), (5, 7, 1, "a", 1.0),
      (6, 2, 2, "b", 1.0), (7, 1, 2, "b", 1.0))
    val stream = MemoryStream[EventRow]
    val q = EventStreams.recentEvents(stream.toDS(), n = 3)
      .writeStream.format("memory").queryName("recent")
      .outputMode(OutputMode.Update()).start()
    // deliberately ragged micro-batches: the buffer must trim under
    // the TOTAL order (ts, event_id), not arrival order
    stream.addData(all.take(2)); q.processAllAvailable()
    stream.addData(all.slice(2, 5)); q.processAllAvailable()
    stream.addData(all.drop(5)); q.processAllAvailable(); q.stop()
    // Update mode: the LAST emission per user is the current state
    val last = rocks.table("recent").as[UserRecent].collect()
      .groupBy(_.user_id).map { case (u, rows) =>
        u -> rows.maxBy(_.n_seen) }
    // batch model: newest 3 under (ts, event_id), newest-first ids
    def model(uid: Long) = all.filter(_.user_id == uid)
      .sortBy(e => (e.ts.getTime, e.event_id)).takeRight(3)
      .reverse.map(_.event_id)
    assert(last(1L).n_seen == 5L && last(1L).recent_ids == model(1L),
      s"user 1: ${last(1L)} vs ${model(1L)}")
    assert(last(2L).n_seen == 2L && last(2L).recent_ids == model(2L))
  }

  test("batch-to-stream cutover loses no session: initial state ≡ uninterrupted run") {
    // the reference's own lifecycle — full migrate (batch), then tail
    // sync (stream) — as v2 initial state: split the schedule at T,
    // seed the stream from history's open sessions, and the union of
    // history-closed + stream-emitted must equal the uninterrupted run
    val rocks = spark.newSession()
    rocks.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    import rocks.implicits._
    implicit val sqlCtx = rocks.sqlContext
    val all = mkEvents(
      (1, 0, 1, "a", 1.0), (2, 10, 1, "a", 1.0),        // closed in history
      (3, 100, 1, "a", 1.0),                            // OPEN at the cut…
      (4, 115, 1, "a", 1.0),                            // …extended live
      (5, 50, 2, "b", 1.0),                             // open at cut, dies by timer
      (6, 400, 1, "a", 1.0), (7, 900, 3, "c", 1.0))     // live activity
    val cut = 110 // minutes: history = events strictly before the cut
    val (hist, live) = all.partition(_.ts.getTime < ts(cut).getTime)
    // uninterrupted reference run (plain v2 stream over everything)
    val full = MemoryStream[EventRow]
    val qf = EventStreams.closedSessionsV2(full.toDS(), gapMinutes = 30)
      .writeStream.format("memory").queryName("cut_full")
      .outputMode(OutputMode.Append()).start()
    full.addData(all); qf.processAllAvailable(); qf.stop()
    val reference = rocks.table("cut_full").as[ClosedSession].collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events)).toSet
    // cutover run: batch history + bootstrapped stream
    val histDs = hist.toDS()
    val batchClosed = EventStreams.historyClosedSessions(histDs).collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events)).toSet
    val stream = MemoryStream[EventRow]
    val q = EventStreams.closedSessionsBootstrapped(stream.toDS(), histDs)
      .writeStream.format("memory").queryName("cut_boot")
      .outputMode(OutputMode.Append()).start()
    stream.addData(live); q.processAllAvailable(); q.stop()
    val streamClosed = rocks.table("cut_boot").as[ClosedSession].collect()
      .map(s => (s.user_id, s.session_start.getTime, s.session_end.getTime,
        s.n_events)).toSet
    assert(batchClosed.intersect(streamClosed).isEmpty,
      "a session was emitted by BOTH halves of the cutover")
    assert(batchClosed.union(streamClosed) == reference,
      s"cutover diverged: batch=$batchClosed stream=$streamClosed " +
        s"reference=$reference")
  }

  test("session_window (batch mode) agrees with the lag-gap sessionizer") {
    import spark.implicits._
    // Three sessions for user 1 (gaps > 30 min at minutes 100 and 200),
    // one session for user 2.
    val events = mkEvents(
      (1, 0, 1, "a", 1.0), (2, 10, 1, "a", 1.0), (3, 25, 1, "a", 1.0),
      (4, 100, 1, "a", 1.0), (5, 110, 1, "a", 1.0),
      (6, 200, 1, "a", 1.0),
      (7, 5, 2, "b", 1.0)).toDF()
    val viaBuiltin = events
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .count().groupBy(col("user_id")).count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaBuiltin == Map(1L -> 3L, 2L -> 1L))
  }

  test("stream-stream join matches users within the time bound only") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[EventRow]
    val others = MemoryStream[EventRow]
    purchases.addData(mkEvents((10, 120, 1, "purchase", 5.0)))
    others.addData(mkEvents(
      (1, 70, 1, "signup", 0.0),   // within the hour before the purchase
      (2, 10, 1, "error", 0.0),    // too old (>1h before)
      (3, 130, 1, "signup", 0.0),  // after the purchase
      (4, 80, 2, "signup", 0.0)))  // wrong user
    val q = EventStreams.streamStreamJoin(purchases.toDF(), others.toDF())
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode(OutputMode.Append()).start()
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssjoin").collect()
      .map(r => (r.getAs[Long]("p_id"), r.getAs[Long]("o_id"))).toSet
    assert(rows == Set((10L, 1L)), s"got $rows")
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[EventRow]
    val others = MemoryStream[EventRow]
    val q = EventStreams.streamStreamLeftJoin(purchases.toDF(), others.toDF())
      .writeStream.format("memory").queryName("ssleft")
      .outputMode(OutputMode.Append()).start()
    // matched purchase (signup 50 min before) and an UNMATCHED one
    purchases.addData(mkEvents((10, 120, 1, "purchase", 5.0),
      (11, 125, 2, "purchase", 7.0)))
    others.addData(mkEvents((1, 70, 1, "signup", 0.0)))
    q.processAllAvailable()
    // the unmatched row must NOT have emitted yet: a match could still
    // arrive until the other side's watermark passes p_ts
    val early = spark.table("ssleft").collect()
      .map(r => (r.getAs[Long]("p_id"), Option(r.get(2)))).toSet
    assert(!early.exists(e => e._1 == 11L && e._2.isEmpty),
      s"outer row emitted before the watermark proved no match: $early")
    // advance BOTH watermarks far past the join bound; outer result
    // lands in a following micro-batch
    purchases.addData(mkEvents((98, 1000, 9, "purchase", 0.0)))
    others.addData(mkEvents((99, 1000, 9, "signup", 0.0)))
    q.processAllAvailable()
    purchases.addData(mkEvents((96, 1400, 8, "purchase", 0.0)))
    others.addData(mkEvents((97, 1400, 8, "signup", 0.0)))
    q.processAllAvailable(); q.stop()
    val rows = spark.table("ssleft").collect()
      .map(r => (r.getAs[Long]("p_id"), Option(r.get(2)))).toSet
    assert(rows.contains((10L, Some(1L))), s"matched row missing: $rows")
    assert(rows.exists(e => e._1 == 11L && e._2.isEmpty),
      s"unmatched purchase never emitted with null match: $rows")
  }

  test("stateful restart from checkpoint: interrupted ≡ uninterrupted run") {
    // The streaming twin of EtlSpec's crash/resume (reference A11/A12
    // parity): kill a STATEFUL query mid-stream and restart it from
    // its checkpoint dir — window state and the watermark must be
    // recovered, proven by (a) a late event arriving AFTER the restart
    // that merges into a window whose state was built BEFORE the stop,
    // and (b) the final sink being row-identical to a never-stopped
    // run over the same files.
    import org.apache.spark.sql.streaming.Trigger
    val enc = org.apache.spark.sql.Encoders.product[EventRow]
    def writeBatch(dir: String, rows: Seq[EventRow]): Unit =
      spark.createDataset(rows)(enc).repartition(1).write.parquet(dir)
    def runOnce(src: String, out: String, ckpt: String): Unit = {
      val q = EventStreams.tumblingCounts(
          spark.readStream.schema(enc.schema).parquet(src))
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .outputMode(OutputMode.Append())
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
    }
    def readOut(out: String): Set[(Timestamp, String, Long, Double)] =
      spark.read.parquet(out).collect().map(r => (
        r.getAs[Timestamp]("win_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("sum_value"))).toSet
    val phase1 = mkEvents( // hours 0-2; hour-1 state: a×1 (95), b×1 (70)
      (1, 10, 1, "a", 1.0), (2, 40, 1, "a", 2.0), (3, 70, 2, "b", 3.0),
      (4, 95, 1, "a", 4.0), (5, 130, 2, "b", 5.0))
    val phase2 = mkEvents( // after restart: 105 is LATE but inside the
      // checkpointed watermark (130 − 30 = 100) — it must merge into
      // the hour-1 window state recovered from the checkpoint
      (6, 150, 1, "a", 6.0), (7, 105, 2, "b", 7.0))
    // Two flush files: watermark commits at batch END, and append-mode
    // emission uses the watermark restored at batch START — so flush1
    // raises the watermark past every real window, and the batch that
    // processes flush2 (in a later run, reading the checkpointed
    // watermark) emits them. Both paths end on a flush2-only run, so
    // both finalize identically.
    val flush1 = mkEvents((8, 6000, 3, "flush", 0.0))
    val flush2 = mkEvents((9, 7000, 3, "flush", 0.0))
    val base = tempDir("graft-restart")
    // interrupted path: run, STOP, add data, restart from checkpoint
    writeBatch(s"$base/src/p1", phase1)
    runOnce(s"$base/src/*", s"$base/out", s"$base/ckpt")
    writeBatch(s"$base/src/p2", phase2)
    writeBatch(s"$base/src/p3", flush1)
    runOnce(s"$base/src/*", s"$base/out", s"$base/ckpt")
    writeBatch(s"$base/src/p4", flush2)
    runOnce(s"$base/src/*", s"$base/out", s"$base/ckpt")
    // uninterrupted reference: same files, fresh state, one stop less
    writeBatch(s"$base/ref-src/p1", phase1)
    writeBatch(s"$base/ref-src/p2", phase2)
    writeBatch(s"$base/ref-src/p3", flush1)
    runOnce(s"$base/ref-src/*", s"$base/ref-out", s"$base/ref-ckpt")
    writeBatch(s"$base/ref-src/p4", flush2)
    runOnce(s"$base/ref-src/*", s"$base/ref-out", s"$base/ref-ckpt")
    val got = readOut(s"$base/out")
    assert(got == readOut(s"$base/ref-out"),
      s"restarted run diverged from the uninterrupted run: $got")
    // the state-recovery proof: the b-window holding minutes 60-120 =
    // pre-stop event 70 (3.0) plus post-restart late event 105 (7.0) —
    // a fresh-state restart would report n=1 (window starts are
    // hour-FLOORED wall times, so match on content, not on ts(60))
    assert(got.exists(e => e._2 == "b" && e._3 == 2L && e._4 == 10.0),
      s"late event did not merge into checkpoint-recovered window state: $got")
  }

  test("syncAvailableNow drains new files into the destination (A12 sync)") {
    val base = tempDir("graft-sync")
    val src = Tables.orders(spark, sfDir)
    src.filter(col("o_orderkey") < 500).write.parquet(s"$base/in/p1")
    // first drain
    var q = EventStreams.syncAvailableNow(spark, s"$base/in/*", s"$base/in/p1",
      s"$base/out", s"$base/ckpt")
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == 500)
    // source grows; second drain picks up only the delta via checkpoint
    src.filter(col("o_orderkey") >= 500).write.parquet(s"$base/in/p2")
    q = EventStreams.syncAvailableNow(spark, s"$base/in/*", s"$base/in/p1",
      s"$base/out", s"$base/ckpt")
    q.awaitTermination()
    assert(spark.read.parquet(s"$base/out").count() == src.count())
  }
}
