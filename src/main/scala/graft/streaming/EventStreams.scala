package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

case class EventRow(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
                    event_type: String, value: Double)

case class UserStat(user_id: Long, n_events: Long, total_value: Double)

case class SessBuf(start: Long, end: Long, n: Long)
case class ClosedSession(user_id: Long, session_start: java.sql.Timestamp,
                         session_end: java.sql.Timestamp, n_events: Long)

case class RecentEvent(ms: Long, event_id: Long, value: Double)
case class UserRecent(user_id: Long, n_seen: Long, recent_ids: Seq[Long])

case class KmvCard(hs: Array[Long], n_seen: Long)
case class TypeCardinality(event_type: String, n_seen: Long, est_users: Double)
case class BitmapCard(bits: Array[Long], n_seen: Long)
case class TypeExactCard(event_type: String, n_seen: Long, exact_users: Long)
case class TopKState(vals: Array[Long], ids: Array[Long], n: Int, n_seen: Long)
case class TypeTopK(event_type: String, n_seen: Long,
                    top_ids: Seq[Long], top_vals: Seq[Long])

/** Structured Streaming operators over the events stream (SURVEY.md
  * §2B X1-X8). The reference's only streaming construct is `sync` —
  * poll MAX(pk), migrate the delta, sleep (A12); [[syncAvailableNow]]
  * reproduces that with a file-source micro-batch stream. The windowed
  * /sessionized/stateful operators are the event-time extensions a
  * real pipeline needs; their batch twins in graft.queries.Windows
  * carry the DuckDB oracle, and these streaming versions are asserted
  * equivalent in StreamingSpec via MemoryStream.
  *
  * Scale posture: state is keyed (window × type, session × user,
  * user) and distributes across executors. The windowed/sessionized
  * operators are watermark-bounded and evict old state. The per-KEY
  * running aggregates are bounded differently, by STATE SIZE, not
  * eviction: X5's lifetime rollup is a fixed few fields per user
  * (O(users) entries — the deliberate lifetime-stats shape; cap with
  * a state TTL in a deployment that can't hold the user dimension),
  * and X10/X11/X12 carry constant-size sketch/bitmap/heap buffers per
  * key forever — that constancy is their entire point.
  */
object EventStreams {

  /** X1 — tumbling 1-hour window aggregation with a 30-minute
    * watermark (X2: late events beyond the watermark are dropped). */
  def tumblingCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("win.start").as("win_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** X4 — streaming dedup on event_id; state expires with the
    * watermark instead of growing forever. */
  def dedup(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("event_id")

  /** X5 — custom per-key state: running per-user counters via
    * mapGroupsWithState (the escape hatch when built-in aggregations
    * can't express the state transition). */
  def runningUserStats(events: Dataset[EventRow]): Dataset[UserStat] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserStat, UserStat](GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[EventRow], st: GroupState[UserStat]) =>
          val prev = st.getOption.getOrElse(UserStat(uid, 0L, 0.0))
          var n = prev.n_events
          var tot = prev.total_value
          rows.foreach { e => n += 1; tot += e.value }
          val next = UserStat(uid, n, tot)
          st.update(next)
          next
      }
  }

  /** X10 — streaming cardinality with SKETCH state: running distinct
    * users per event type through the same KMV sketch the batch
    * engine oracle-checks (operators.KmvSketch — k smallest distinct
    * 60-bit hashes). The state is one bounded k×8-byte buffer per
    * key FOREVER — the streaming-cardinality shape that never grows
    * with the user population, where a naive distinct-set state is
    * O(users) per key and dies at 100 TB/day. Emitted estimates are
    * identical to the batch aggregate over the same prefix (asserted
    * in StreamingSpec): the sketch is deterministic and
    * insertion-order-free, so stream and batch agree exactly. */
  def runningDistinctUsers(events: Dataset[EventRow], k: Int = 64): Dataset[TypeCardinality] = {
    import events.sparkSession.implicits._
    val sk = new graft.operators.KmvSketch(k)
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[KmvCard, TypeCardinality](GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[EventRow], st: GroupState[KmvCard]) =>
          val prev = st.getOption.getOrElse(KmvCard(Array.empty, 0L))
          var buf = graft.operators.KmvBuf(prev.hs)
          var n = prev.n_seen
          rows.foreach { e =>
            buf = sk.reduce(buf, graft.operators.Sketches.hash60(e.user_id.toString))
            n += 1
          }
          st.update(KmvCard(buf.hs, n))
          TypeCardinality(tpe, n, sk.finish(buf))
      }
  }

  /** X14 — streaming cardinality with HLL REGISTER state: the
    * industry-default streaming counter — a fixed 256-long register
    * file per key FOREVER (vs X10's k-min buffer, which adapts but
    * rebalances on insert, and X11's exact bitmap, which needs a
    * finite universe). Registers only ever take elementwise max, so
    * the update is insertion-order- and batch-boundary-free and the
    * emitted estimate is IDENTICAL to the batch q_hll_distinct
    * aggregate over the same prefix (StreamingSpec asserts equality;
    * operators.HllSketch keeps the harmonic sum exact-int64, so there
    * is no float-order drift to hide behind). */
  def runningDistinctUsersHll(events: Dataset[EventRow], p: Int = 8): Dataset[TypeCardinality] = {
    import events.sparkSession.implicits._
    val sk = new graft.operators.HllSketch(p)
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[KmvCard, TypeCardinality](GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[EventRow], st: GroupState[KmvCard]) =>
          val prev = st.getOption.getOrElse(KmvCard(Array.empty, 0L))
          var buf = graft.operators.HllBuf(prev.hs)
          var n = prev.n_seen
          rows.foreach { e =>
            buf = sk.reduce(buf, graft.operators.Sketches.hash60(e.user_id.toString))
            n += 1
          }
          st.update(KmvCard(buf.m, n))
          TypeCardinality(tpe, n, sk.finish(buf))
      }
  }

  /** X11 — streaming EXACT cardinality with BITMAP state: running
    * distinct users per event type through the same fixed-universe
    * bitmap the batch engine oracle-checks (operators.BitmapAgg).
    * Where X10's KMV state trades exactness for an unbounded id
    * domain, this is the other corner of the design square: a
    * universe/8-byte state per key FOREVER (8 KiB at 2^16) that
    * answers EXACTLY — the right state shape when ids are
    * dictionary-encoded and finite (they are, in every warehouse
    * dimension). Stream ≡ batch exactly because bit-set insertion is
    * order- and batch-boundary-free (asserted in StreamingSpec).
    * Contract: ids MUST lie in [0, universe) — an out-of-range id
    * fails the query loudly (BitmapAgg's require), by design the same
    * never-silently-alias posture as the batch G24 path; for open id
    * domains use [[runningDistinctUsers]] (X10, KMV estimate)
    * instead. */
  def runningExactUsers(events: Dataset[EventRow],
                        universe: Int = 1 << 16): Dataset[TypeExactCard] = {
    import events.sparkSession.implicits._
    val bm = new graft.operators.BitmapAgg(universe)
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[BitmapCard, TypeExactCard](GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[EventRow], st: GroupState[BitmapCard]) =>
          val prev = st.getOption.getOrElse(BitmapCard(bm.zero, 0L))
          val bits = if (prev.bits.isEmpty) bm.zero else prev.bits
          var n = prev.n_seen
          rows.foreach { e => bm.reduce(bits, e.user_id); n += 1 }
          st.update(BitmapCard(bits, n))
          TypeExactCard(tpe, n,
            bits.map(w => java.lang.Long.bitCount(w).toLong).sum)
      }
  }

  /** X12 — streaming TOP-K with bounded-heap state: the batch
    * engine's TopKPairs buffer (k-slot insertion heap under the total
    * order value DESC, id ASC) carried as `mapGroupsWithState` state —
    * running "k biggest purchases per event type" with k×16 bytes of
    * state per key FOREVER. Same unification argument as X10/X11:
    * because the heap's insert is order-insensitive under its total
    * order, the stream state equals the batch aggregate over the same
    * prefix exactly, across any micro-batch boundaries
    * (StreamingSpec). */
  def runningTopK(events: Dataset[EventRow], k: Int = 5): Dataset[TypeTopK] = {
    import events.sparkSession.implicits._
    val agg = new graft.operators.TopKPairs(k)
    events
      .groupByKey(_.event_type)
      .mapGroupsWithState[TopKState, TypeTopK](GroupStateTimeout.NoTimeout) {
        (tpe: String, rows: Iterator[EventRow], st: GroupState[TopKState]) =>
          val prev = st.getOption.getOrElse(
            TopKState(new Array[Long](k), new Array[Long](k), 0, 0L))
          var buf = graft.operators.TopKBuf(prev.vals, prev.ids, prev.n)
          var seen = prev.n_seen
          rows.foreach { e =>
            buf = agg.reduce(buf, (math.floor(e.value * 1e6).toLong, e.event_id))
            seen += 1
          }
          st.update(TopKState(buf.vals, buf.ids, buf.n, seen))
          TypeTopK(tpe, seen,
            (0 until buf.n).map(buf.ids(_)), (0 until buf.n).map(buf.vals(_)))
      }
  }

  /** X9 — closed-session emission via flatMapGroupsWithState with an
    * EVENT-TIME TIMEOUT: sessions are emitted exactly once, when they
    * CLOSE (either a new event arrives past the gap, or the watermark
    * passes end+gap and the state times out). This is the custom-gap
    * escape hatch beyond built-in session_window (X3): the state
    * transition is arbitrary code, so a production variant can carry
    * custom payloads (entry page, conversion flags) that
    * session_window's aggregate surface can't. State is one small
    * buffer per OPEN session per user, evicted by the timeout — the
    * same watermark-bounded posture as every other X row. */
  def closedSessions(events: Dataset[EventRow], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessBuf, ClosedSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[EventRow], st: GroupState[SessBuf]) =>
          if (st.hasTimedOut) {
            val b = st.get
            st.remove()
            Iterator(ClosedSession(uid, new java.sql.Timestamp(b.start),
              new java.sql.Timestamp(b.end), b.n))
          } else {
            // micro-batch arrivals are unordered; sort the (small)
            // per-key batch before folding it into the session buffer
            val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
            var closed = List.empty[ClosedSession]
            var cur = st.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur = cur match {
                case Some(b) if t - b.end <= gapMs =>
                  // a late cross-batch event may precede the recovered
                  // session's start — fold it by EXTENDING BOTH ends
                  // (min/max), matching batch session_window semantics
                  Some(SessBuf(math.min(b.start, t), math.max(b.end, t), b.n + 1))
                case Some(b) =>
                  closed ::= ClosedSession(uid, new java.sql.Timestamp(b.start),
                    new java.sql.Timestamp(b.end), b.n)
                  Some(SessBuf(t, t, 1))
                case None => Some(SessBuf(t, t, 1))
              }
            }
            cur.foreach { b =>
              st.update(b)
              st.setTimeoutTimestamp(b.end + gapMs)
            }
            closed.reverse.iterator
          }
      }
  }

  /** X6 — watermarked stream-stream join: each purchase joined to the
    * same user's signup-or-error events within the preceding hour.
    * Both sides keep watermark-bounded state; the time-range predicate
    * is what lets the engine evict it (unbounded stream-stream joins
    * are rejected in append mode). */
  def streamStreamJoin(purchases: DataFrame, others: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val o = others.withWatermark("ts", "2 hours")
      .select(col("event_id").as("o_id"), col("user_id").as("o_user"),
        col("ts").as("o_ts"), col("event_type").as("o_type"))
    p.join(o,
      col("user_id") === col("o_user") &&
      col("o_ts") >= col("p_ts") - org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR") &&
      col("o_ts") <= col("p_ts"))
      .select(col("p_id"), col("user_id"), col("o_id"), col("o_type"))
  }

  /** X6b — stream-stream LEFT OUTER join: like [[streamStreamJoin]]
    * but purchases with NO correlated event still emit (null match
    * columns) — the shape that catches "conversions without a
    * preceding touchpoint". The subtlety this pins: outer rows can
    * only emit once the OTHER side's watermark proves no future match
    * is possible (past p_ts, the time-bound's upper edge), so
    * unmatched results trail the event time by the watermark delay —
    * StreamingSpec choreographs exactly that. Same watermark-bounded
    * state posture as the inner variant. */
  def streamStreamLeftJoin(purchases: DataFrame, others: DataFrame): DataFrame = {
    val p = purchases.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("p_id"), col("user_id"), col("ts").as("p_ts"))
    val o = others.withWatermark("ts", "30 minutes")
      .select(col("event_id").as("o_id"), col("user_id").as("o_user"),
        col("ts").as("o_ts"), col("event_type").as("o_type"))
    p.join(o,
      col("user_id") === col("o_user") &&
      col("o_ts") >= col("p_ts") - org.apache.spark.sql.functions.expr("INTERVAL 1 HOUR") &&
      col("o_ts") <= col("p_ts"),
      "left_outer")
      .select(col("p_id"), col("user_id"), col("o_id"), col("o_type"))
  }

  /** X7 — stream-static enrichment join: each streaming event joined
    * to a static dimension table (here: per-user profile attributes).
    * The static side is planned per micro-batch as an ordinary batch
    * relation — broadcast when small — so the stream needs NO state
    * for it and no watermark interplay: the standard shape for
    * enriching a 100 TB/day event stream with reference data. */
  def enrichWithDimension(events: DataFrame, userDim: DataFrame): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("segment"))

  /** X8 — idempotent micro-batch sink via foreachBatch: each batch is
    * written to a directory keyed by its batchId with overwrite
    * semantics, so a replayed batch (restart between sink write and
    * checkpoint commit — Structured Streaming's at-least-once window)
    * lands in the same place instead of duplicating. This is the
    * streaming form of the reference's range-keyed idempotent load
    * (A8/A11: re-running a PK range overwrites it); with a
    * transactional table format the same hook would do a MERGE. */
  def idempotentBatchSink(events: DataFrame, baseDir: String,
                          checkpointDir: String): StreamingQuery =
    events.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$baseDir/batch_id=$batchId")
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()

  /** The shared v2 session state machine — mixed into BOTH the plain
    * processor (X13) and the initial-state bootstrap variant (X16),
    * with the per-batch fold DELEGATED to [[foldSessions]] (also the
    * batch-history helpers' fold), so none of the four surfaces can
    * drift. (The v1 flatMapGroupsWithState emitter keeps its OWN
    * inline fold on purpose: it is the independent baseline the
    * X13-parity test compares against.) */
  trait SessionLogicV2 {
    self: org.apache.spark.sql.streaming.StatefulProcessor[
      Long, EventRow, ClosedSession] =>
    protected def gapMs: Long
    @transient protected var session:
      org.apache.spark.sql.streaming.ValueState[SessBuf] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      session = getHandle.getValueState[SessBuf]("session",
        org.apache.spark.sql.Encoders.product[SessBuf],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(uid: Long, rows: Iterator[EventRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[ClosedSession] = {
      val (closed, cur) = foldSessions(rows, gapMs,
        if (session.exists()) Some(session.get()) else None)
      cur.foreach { b =>
        // one live timer per key: drop the stale close time, arm the
        // new one (v1's setTimeoutTimestamp overwrote implicitly)
        getHandle.listTimers().foreach(ts => getHandle.deleteTimer(ts))
        session.update(b)
        getHandle.registerTimer(b.end + gapMs)
      }
      closed.iterator.map(b => ClosedSession(uid,
        new java.sql.Timestamp(b.start), new java.sql.Timestamp(b.end), b.n))
    }

    override def handleExpiredTimer(uid: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expired: org.apache.spark.sql.streaming.ExpiredTimerInfo)
        : Iterator[ClosedSession] = {
      val out: Iterator[ClosedSession] =
        if (session.exists()) {
          val b = session.get()
          Iterator.single(ClosedSession(uid, new java.sql.Timestamp(b.start),
            new java.sql.Timestamp(b.end), b.n))
        } else Iterator.empty
      session.clear()
      out
    }
  }

  /** X13 — closed-session emission on the Spark 4 state API v2
    * (`transformWithState`): the SAME session semantics as X9's
    * flatMapGroupsWithState emitter, re-expressed as a
    * [[StatefulProcessor]] with typed ValueState + explicit event-time
    * TIMERS (registerTimer/handleExpiredTimer replace the v1
    * setTimeoutTimestamp/hasTimedOut protocol). The v2 API is where
    * streaming state is headed — per-state TTL, multiple typed state
    * variables, timer multiplexing — and this twin pins the migration
    * path: StreamingSpec asserts its output is IDENTICAL to X9's on
    * the same input, including timeout-emitted sessions. Timer
    * hygiene: extending a session deletes the stale timer before
    * registering the new close time, so a session can never be
    * emitted twice. */
  class SessionProcessor(protected val gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, ClosedSession] with SessionLogicV2

  /** X16 — the reference's OWN lifecycle as v2 state: "full migrate,
    * then tail-sync" = seed streaming state from a BATCH snapshot
    * (`StatefulProcessorWithInitialState`), then continue the stream.
    * Each user's trailing OPEN session from history becomes initial
    * ValueState with its close timer armed; live events then extend
    * or close it exactly as if the stream had run from the beginning —
    * StreamingSpec proves split-at-T (batch history + bootstrapped
    * stream) ≡ the uninterrupted run. */
  class BootstrappedSessionProcessor(protected val gapMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessorWithInitialState[
        Long, EventRow, ClosedSession, SessBuf] with SessionLogicV2 {
    override def handleInitialState(uid: Long, b: SessBuf,
        timerValues: org.apache.spark.sql.streaming.TimerValues): Unit = {
      session.update(b)
      getHandle.registerTimer(b.end + gapMs)
    }
  }

  /** X15 — bounded recent-events buffer per user on v2 ListState: the
    * online-feature-store state shape ("last N events per user" feeds
    * real-time features) that v1's single-value GroupState can only
    * fake by packing a list into one blob rewritten per batch.
    * ListState is element-appendable in the store; the buffer is
    * re-trimmed to the N NEWEST under (ts, event_id) only when it
    * overflows. Emission per batch: the user's current buffer (ids
    * newest-first) plus a lifetime event count — deterministic for
    * any arrival order because the trim order is total
    * (StreamingSpec: stream ≡ batch last-N model across micro-batch
    * splits). State is N small rows per user FOREVER — the same
    * bounded-forever posture as X10/X11/X12, with per-state TTL the
    * v2 lever to cap the user dimension in a deployment. */
  class RecentEventsProcessor(n: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        Long, EventRow, UserRecent] {
    @transient private var buf:
      org.apache.spark.sql.streaming.ListState[RecentEvent] = _
    @transient private var seen:
      org.apache.spark.sql.streaming.ValueState[Long] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      buf = getHandle.getListState[RecentEvent]("recent",
        org.apache.spark.sql.Encoders.product[RecentEvent],
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("seen",
        org.apache.spark.sql.Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    override def handleInputRows(uid: Long, rows: Iterator[EventRow],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
        : Iterator[UserRecent] = {
      val incoming = rows.map(e =>
        RecentEvent(e.ts.getTime, e.event_id, e.value)).toArray
      val merged = (buf.get().toArray ++ incoming)
        .sortBy(r => (r.ms, r.event_id))
      // storage order is free (every read re-sorts under the total
      // order), so the store write is APPEND-ONLY while the buffer
      // fits — the element-appendable win over v1's rewrite-the-blob;
      // only an overflow trim rewrites the list
      val trimmed = if (merged.length > n) merged.takeRight(n) else merged
      if (merged.length <= n) buf.appendList(incoming)
      else buf.put(trimmed)
      val total = (if (seen.exists()) seen.get() else 0L) + incoming.length
      seen.update(total)
      Iterator.single(UserRecent(uid, total,
        trimmed.reverse.map(_.event_id).toSeq))
    }
  }

  def recentEvents(events: Dataset[EventRow], n: Int = 3): Dataset[UserRecent] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RecentEventsProcessor(n),
        org.apache.spark.sql.streaming.TimeMode.None(),
        OutputMode.Update())
  }

  def closedSessionsV2(events: Dataset[EventRow], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append())
  }

  /** THE per-user session fold — the one definition behind the v2
    * processors (via [[SessionLogicV2.handleInputRows]], with the
    * recovered state as `initial`) and the batch-history helpers:
    * sort the (small per-key) batch under the total (ts, event_id)
    * order, extend-or-close under the gap, return (closed sessions in
    * close order, trailing open buffer). */
  private[streaming] def foldSessions(rows: Iterator[EventRow], gapMs: Long,
      initial: Option[SessBuf] = None): (List[SessBuf], Option[SessBuf]) = {
    val sorted = rows.toArray.sortBy(e => (e.ts.getTime, e.event_id))
    var closed = List.empty[SessBuf]
    var cur: Option[SessBuf] = initial
    sorted.foreach { e =>
      val t = e.ts.getTime
      cur = cur match {
        case Some(b) if t - b.end <= gapMs =>
          Some(SessBuf(math.min(b.start, t), math.max(b.end, t), b.n + 1))
        case Some(b) => closed ::= b; Some(SessBuf(t, t, 1))
        case None => Some(SessBuf(t, t, 1))
      }
    }
    (closed.reverse, cur)
  }

  /** X16 — ONE tagged pass over batch history: every session, closed
    * ones tagged is_open=false, the per-user trailing open one
    * is_open=true. Callers needing both views (a cutover does)
    * persist THIS and filter — one shuffle and one sort over the
    * "full migration" data, not two. */
  def historySessions(history: Dataset[EventRow], gapMinutes: Int = 30)
      : Dataset[(Long, SessBuf, Boolean)] = {
    import history.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    history.groupByKey(_.user_id).flatMapGroups { (uid, rows) =>
      val (closed, open) = foldSessions(rows, gapMs)
      closed.iterator.map((uid, _, false)) ++
        open.iterator.map((uid, _, true))
    }
  }

  /** History's CLOSED sessions (the "full migration" output). */
  def historyClosedSessions(history: Dataset[EventRow], gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import history.sparkSession.implicits._
    historySessions(history, gapMinutes).filter(!_._3)
      .map { case (uid, b, _) => ClosedSession(uid,
        new java.sql.Timestamp(b.start), new java.sql.Timestamp(b.end), b.n) }
  }

  /** Each user's trailing OPEN session — the bootstrap snapshot. */
  def historyOpenSessions(history: Dataset[EventRow], gapMinutes: Int = 30): Dataset[(Long, SessBuf)] = {
    import history.sparkSession.implicits._
    historySessions(history, gapMinutes).filter(_._3)
      .map { case (uid, b, _) => (uid, b) }
  }

  /** X16 — closed sessions CONTINUED from a batch snapshot: the
    * open-session state from [[historyOpenSessions]] seeds the
    * processor via `transformWithState`'s initial-state overload, so
    * cutting a pipeline over from batch history to the live stream
    * loses no session and emits none twice (StreamingSpec: history's
    * closed set + this stream's output ≡ the uninterrupted run). */
  def closedSessionsBootstrapped(events: Dataset[EventRow],
      history: Dataset[EventRow],
      gapMinutes: Int = 30): Dataset[ClosedSession] = {
    import events.sparkSession.implicits._
    // ONE gap value threads through snapshot and stream — a snapshot
    // folded under a different gap than the armed timers would lose
    // or merge boundary sessions silently
    val init = historyOpenSessions(history, gapMinutes).groupByKey(_._1)
      .mapValues(_._2)
    events
      .withWatermark("ts", s"$gapMinutes minutes")
      .groupByKey(_.user_id)
      .transformWithState(new BootstrappedSessionProcessor(gapMinutes * 60000L),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append(), init)
  }

  /** A12 sync, Spark-native: treat the source directory as an
    * append-only stream (new files = new PK ranges), drain everything
    * currently available, write to the destination, and stop — exactly
    * the reference's "migrate the delta, then sleep" iteration, with
    * the engine checkpoint replacing the hand-rolled frontier poll.
    * Call repeatedly (or switch to a processing-time trigger) for
    * continuous sync. */
  def syncAvailableNow(spark: SparkSession, srcDir: String, schemaSource: String,
                       dstDir: String, checkpointDir: String): StreamingQuery = {
    val schema = spark.read.parquet(schemaSource).schema
    spark.readStream
      .schema(schema)
      .parquet(srcDir)
      .writeStream
      .format("parquet")
      .option("path", dstDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .outputMode(OutputMode.Append())
      .start()
  }
}
