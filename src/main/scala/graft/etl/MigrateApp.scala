package graft.etl

import org.apache.spark.sql.SparkSession

/** CLI surface mirroring the reference's commands (SURVEY.md §2A A13:
  * `migbq run|check|retry|sync <config>`), Spark-native:
  *
  * {{{
  * runMain graft.etl.MigrateApp run   <srcParquet> <pkCol> <workDir> [batchSize]
  * runMain graft.etl.MigrateApp check <srcParquet> <pkCol> <workDir>
  * runMain graft.etl.MigrateApp retry <srcParquet> <pkCol> <workDir>
  * runMain graft.etl.MigrateApp sync  <srcParquet> <pkCol> <workDir> [batchSize]
  * }}}
  *
  * `workDir` holds `state/` (the checkpoint table) and `data/` (the
  * range-partitioned destination). `sync` is one poll iteration of the
  * reference's EP3 loop: re-read MAX(pk), migrate the delta if the
  * frontier moved — run it from cron/Airflow for continuity, or use
  * [[graft.streaming.EventStreams.syncAvailableNow]] for the
  * engine-checkpointed variant.
  *
  * The reference's YAML front door (A13) also works:
  * `runMain graft.etl.MigrateApp <cmd> --config <file.yml>` with
  * {{{
  * in:
  *   path: ${DATA_DIR}/orders.parquet   # ${VAR} env interpolation
  *   pk_column: o_orderkey
  * out:
  *   work_dir: /tmp/migrate_work
  *   batch_size: 5000
  * }}}
  * — see [[MigrateConfig]] for the supported subset.
  */
object MigrateApp {

  /** (srcPath, pkCol, workDir, batchSize) from either arg style. */
  private[graft] def resolveArgs(args: Array[String]): (String, String, String, Long) =
    if (args.length >= 3 && args(1) == "--config") {
      val c = MigrateConfig.load(args(2))
      def req(k: String) = c.getOrElse(k, sys.error(s"config is missing '$k'"))
      (req("in.path"), req("in.pk_column"), req("out.work_dir"),
        c.get("out.batch_size").map(_.toLong).getOrElse(5000L))
    } else {
      require(args.length >= 4,
        "usage: MigrateApp <run|check|retry|sync> <srcParquet> <pkCol> <workDir> " +
          "[batchSize] | MigrateApp <cmd> --config <file.yml>")
      (args(1), args(2), args(3),
        if (args.length > 4) args(4).toLong else 5000L)
    }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: MigrateApp <run|check|retry|sync> ...")
    val cmd = args(0)
    val (srcPath, pkCol, workDir, batchSize) = resolveArgs(args)
    val spark = graft.Session.sweep()
    try dispatch(spark, cmd, srcPath, pkCol, workDir, batchSize)
    finally spark.stop()
  }

  /** One command against one (source, workDir) — the session-agnostic
    * body of [[main]], so the spec can drive a full
    * run→check→retry→sync cycle (including the --config front door via
    * [[resolveArgs]]) on the shared test session without main's
    * stop(). Returns the printed status line. */
  private[graft] def dispatch(spark: SparkSession, cmd: String,
      srcPath: String, pkCol: String, workDir: String,
      batchSize: Long): String = {
    val source = spark.read.parquet(srcPath)
    val table = srcPath.split('/').last.stripSuffix(".parquet")
    val state = new StateStore(spark, s"$workDir/state")
    val runner = new IncrementalRunner(spark, state,
      new ParquetRangeSink(s"$workDir/data"), batchSize)
    val line = cmd match {
      case "run" | "sync" =>
        val recs = runner.run(source, table, pkCol)
        s"[$cmd] migrated ${recs.size} ranges, " +
          s"${recs.map(_.rowCount).sum} rows; frontier=${state.frontier(table)}"
      case "check" =>
        val bad = runner.validate(source, table, pkCol)
        s"[check] ${bad.size} mismatched ranges" +
          (if (bad.isEmpty) "" else s": ${bad.map(r => s"(${r.pkLower},${r.pkUpper}]").mkString(" ")}")
      case "retry" =>
        val fixed = runner.retry(source, table, pkCol)
        s"[retry] re-migrated ${fixed.size} ranges"
      case other => sys.error(s"unknown command: $other")
    }
    println(line)
    line
  }
}
