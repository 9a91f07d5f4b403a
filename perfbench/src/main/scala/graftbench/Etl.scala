package graftbench

import graft.etl.{BatchRecord, BatchSink, BatchState, DerbyStage, IncrementalRunner, ParquetRangeSink, StateStore}
import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** Timing delegate for the migration sink: every call is a span, and each
  * write records the rows it reports. */
final class TimedSink(inner: BatchSink, tr: Tracer, tracePerRange: Boolean)
    extends BatchSink {
  val written = ArrayBuffer[Long]()

  override def write(batch: DataFrame, table: String, lo: Long, hi: Long): Long = {
    if (tracePerRange) tr.newTrace()
    val n = tr.span("etl.sink_write")(inner.write(batch, table, lo, hi))
    written += n
    n
  }

  override def count(spark: SparkSession, table: String, lo: Long, hi: Long): Long =
    tr.span("etl.sink_count")(inner.count(spark, table, lo, hi))
}

/** Timing delegate for the checkpoint state. `frontier` and `pending` are
  * the trait's own methods over `read`, so they are timed as reads. Each
  * upsert records when it finished: a range is done when its state is. */
final class TimedState(inner: BatchState, tr: Tracer) extends BatchState {
  val upsertEnds = ArrayBuffer[Long]()

  override def currentVersion: Long = inner.currentVersion
  override def read(): Seq[BatchRecord] = tr.span("etl.state_read")(inner.read())
  override def upsert(records: Seq[BatchRecord]): Unit = {
    tr.span("etl.state_upsert")(inner.upsert(records))
    upsertEnds += System.nanoTime()
  }
}

/** The two migration workloads: repeated first-time `run` + `check`
  * passes over one staged table, each into a fresh sink and state
  * (`migrate_bulk`), and a sequence of `sync` polls over small
  * appends (`migrate_sync`). Both read the source through
  * `DerbyStage.readRanged`, write through `ParquetRangeSink` and keep
  * state in `StateStore`, each wrapped in a timing delegate. */
object Etl {
  val Table = "orders"
  val Pk = "o_orderkey"

  final case class Target(source: DataFrame, runner: IncrementalRunner,
                          sink: TimedSink, state: TimedState)

  private def target(spark: SparkSession, tr: Tracer, url: String, work: String,
                     lower: Long, upper: Long, cores: Int, batch: Long,
                     tracePerRange: Boolean): Target = {
    val source = DerbyStage.readRanged(spark, url, Table, Pk, lower, upper, cores)
    val sink = new TimedSink(new ParquetRangeSink(s"$work/sink"), tr, tracePerRange)
    val state = new TimedState(new StateStore(spark, s"$work/state"), tr)
    Target(source, new IncrementalRunner(spark, state, sink, batch), sink, state)
  }

  /** Stages the source `reps` times, each into a fresh Derby database;
    * returns the seconds each took and the last database's URL. */
  private def stage(spark: SparkSession, parquet: String, work: String,
                    reps: Int): (Seq[Double], String) = {
    val df = spark.read.parquet(parquet)
    val timed = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val url = DerbyStage.stage(df, s"$work/derby$i", Table)
      ((System.nanoTime() - t0) / 1e9, url)
    }
    (timed.map(_._1), timed.last._2)
  }

  /** One first-time `run` + `check` of the staged source into a fresh sink
    * and state under `dir`. A range is done when its state upsert returns;
    * the first range also carries the bounds probe that precedes it. */
  private def pass(spark: SparkSession, tr: Tracer, url: String, dir: String,
                   spec: Spec): Map[String, Any] = {
    val t = target(spark, tr, url, dir, spec.long("key_lower"), spec.long("key_upper"),
      spec.int("cores"), spec.long("batch_size"), tracePerRange = true)
    val failures = ArrayBuffer[String]()
    val runStart = System.nanoTime()
    try tr.span("etl.run")(t.runner.run(t.source, Table, Pk))
    catch { case e: Throwable => failures += s"run: $e" }
    val runEnd = System.nanoTime()
    val bad = check(tr, t, failures)
    val checkEnd = System.nanoTime()
    val ends = t.state.upsertEnds.toSeq
    val walls = ends.zip(runStart +: ends).map { case (e, s) => (e - s) / 1e9 }
    Map("ok" -> failures.isEmpty, "failures" -> failures.toSeq, "walls" -> walls,
      "written" -> t.sink.written.toSeq, "run_s" -> (runEnd - runStart) / 1e9,
      "check_s" -> (checkEnd - runEnd) / 1e9, "mismatched_ranges" -> bad,
      "sink_glob" -> s"$dir/sink/$Table/range_*/*.parquet")
  }

  def bulk(spark: SparkSession, tr: Tracer, spec: Spec, timed: () => Unit): Map[String, Any] = {
    val work = spec.str("work_dir")
    val s0 = System.nanoTime()
    val (_, url) = stage(spark, spec.str("source"), work, 1)
    // Warm-up: the same passes into throwaway sinks and states, untraced,
    // so that the timed passes do not also pay for JIT-compiling their path.
    val off = new Tracer(spark, enabled = false)
    (1 to spec.int("warm_passes")).foreach(i => pass(spark, off, url, s"$work/warm$i", spec))
    val setup = Seq((System.nanoTime() - s0) / 1e9)
    timed()
    val passes = (1 to spec.int("passes")).map(i => pass(spark, tr, url, s"$work/pass$i", spec))
    val ops = passes.zipWithIndex.flatMap { case (p, i) =>
      val done = p("walls").asInstanceOf[Seq[Double]].zip(p("written").asInstanceOf[Seq[Long]])
        .map { case (w, n) => Map("wall_s" -> w, "rows" -> n, "ok" -> true, "pass" -> i) }
      val failed = p("failures").asInstanceOf[Seq[String]].filter(_.startsWith("run"))
        .map(e => Map("ok" -> false, "error" -> e, "pass" -> i))
      done ++ failed
    }
    val written = passes.flatMap(_("written").asInstanceOf[Seq[Long]])
    Map("setup_s" -> setup, "ops" -> ops, "passes" -> passes,
      "failures" -> passes.flatMap(_("failures").asInstanceOf[Seq[String]]),
      "layers" -> (if (tr.enabled) etlLayers(tr, written.size, written) else Map()))
  }

  def sync(spark: SparkSession, tr: Tracer, spec: Spec, timed: () => Unit): Map[String, Any] = {
    val work = spec.str("work_dir")
    val (setupStage, url) = stage(spark, spec.str("source"), work, spec.int("setup_reps"))
    val t = target(spark, tr, url, work, spec.long("key_lower"), spec.long("key_upper"),
      spec.int("cores"), spec.long("batch_size"), tracePerRange = false)
    val failures = ArrayBuffer[String]()
    val s0 = System.nanoTime()
    try t.runner.run(t.source, Table, Pk)
    catch { case e: Throwable => failures += s"base run: $e" }
    val baseRun = (System.nanoTime() - s0) / 1e9
    val appends = spark.read.parquet(spec.str("appends")).collect().groupBy(_.getAs[Int]("batch"))
    val conn = java.sql.DriverManager.getConnection(url)
    timed()
    val ops = try (0 until spec.int("polls")).map { i =>
      insert(conn, appends.getOrElse(i, Array.empty))
      tr.newTrace()
      val p0 = System.nanoTime()
      try {
        val recs = tr.span("etl.run")(t.runner.run(t.source, Table, Pk))
        Map("wall_s" -> (System.nanoTime() - p0) / 1e9, "rows" -> recs.map(_.rowCount).sum,
          "ok" -> true)
      } catch { case e: Throwable => Map("ok" -> false, "error" -> e.toString) }
    } finally conn.close()
    val c0 = System.nanoTime()
    val bad = check(tr, t, failures)
    val polls = ops.count(_("ok") == true)
    Map("setup_s" -> setupStage.map(_ + baseRun), "ops" -> ops, "failures" -> failures.toSeq,
      "check_s" -> (System.nanoTime() - c0) / 1e9, "mismatched_ranges" -> bad,
      "sink_glob" -> s"$work/sink/$Table/range_*/*.parquet",
      "layers" -> (if (tr.enabled) etlLayers(tr, polls, t.sink.written.toSeq) else Map()))
  }

  /** `check`: count-validates every recorded range; returns the number of
    * mismatched ranges, or -1 when validation itself failed. */
  private def check(tr: Tracer, t: Target, failures: ArrayBuffer[String]): Int = {
    tr.newTrace()
    try tr.span("etl.validate")(t.runner.validate(t.source, Table, Pk)).size
    catch { case e: Throwable => failures += s"validate: $e"; -1 }
  }

  /** Appends one batch of rows to the Derby source, outside any timing. */
  private def insert(conn: java.sql.Connection, rows: Array[org.apache.spark.sql.Row]): Unit =
    if (rows.nonEmpty) {
      val cols = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      val st = conn.prepareStatement(
        s"INSERT INTO $Table (${cols.map("\"" + _ + "\"").mkString(", ")}) VALUES (?, ?, ?, ?, ?, ?)")
      try {
        rows.foreach { r =>
          st.setLong(1, r.getAs[Long]("o_orderkey"))
          st.setLong(2, r.getAs[Long]("o_custkey"))
          st.setString(3, r.getAs[String]("o_orderstatus"))
          st.setDouble(4, r.getAs[Double]("o_totalprice"))
          st.setTimestamp(5, java.sql.Timestamp.valueOf(r.getAs[java.time.LocalDateTime]("o_orderdate")))
          st.setString(6, r.getAs[String]("o_orderpriority"))
          st.addBatch()
        }
        st.executeBatch()
      } finally st.close()
    }

  /** The `etl` layer's metrics from the traced run. `ops` is the number of
    * migrated ranges (bulk) or polls (sync) jobs are spread over; `rows`
    * holds the rows each sink write reported. */
  private def etlLayers(tr: Tracer, ops: Int, rows: Seq[Long]): Map[String, Any] = {
    val w = tr.work
    def jobs(names: String*) = names.flatMap(w.get).map(_.jobs).sum
    val runJobs = jobs("etl.run", "etl.sink_write", "etl.state_read", "etl.state_upsert")
    val ranges = rows.size
    val read = w.collect { case (n, l) if n.startsWith("etl.") => l.jdbcRows }.sum
    val written = rows.sum
    Map(
      "etl.jobs_per_range" -> runJobs.toDouble / math.max(ranges, 1),
      "etl.jobs_per_op" -> runJobs.toDouble / math.max(ops, 1),
      "etl.sink_write_s" -> tr.seconds("etl.sink_write"),
      "etl.sink_write_jobs" -> jobs("etl.sink_write"),
      "etl.state_upsert_s" -> tr.seconds("etl.state_upsert"),
      "etl.state_upsert_calls" -> tr.calls("etl.state_upsert"),
      "etl.state_read_s" -> tr.seconds("etl.state_read"),
      "etl.state_read_calls" -> tr.calls("etl.state_read"),
      "etl.jdbc_rows_read" -> read,
      "etl.rows_written" -> written,
      "etl.read_amplification" -> read.toDouble / math.max(written, 1L),
      "etl.bytes_written" -> w.get("etl.sink_write").map(_.bytesWritten).getOrElse(0L),
      "etl.useful_range_frac" -> rows.count(_ > 0).toDouble / math.max(ranges, 1),
      "etl.runner_self_s" -> tr.selfSeconds("etl.run"),
      "etl.sink_count_s" -> tr.seconds("etl.sink_count"),
      "etl.sink_count_calls" -> tr.calls("etl.sink_count"),
      "etl.validate_source_s" -> tr.selfSeconds("etl.validate"))
  }
}
