package graft

import org.apache.spark.sql.SparkSession

/** The one place a main builds its SparkSession. Two profiles:
  *
  *  - [[sweep]]: the bench sweep's session (`Bench`, `Verify`, `Dev`,
  *    `ExplainDump`, `MigrateApp`), sized by `SPARK_GRAFT_CPUS` and
  *    `SPARK_GRAFT_SHUFFLE`.
  *  - [[plans]]: a fixed four-thread session for plan-only tools
  *    (`PlanScan`, `PlanAudit`), so their output does not depend on the
  *    host.
  *
  * Each profile's settings come from a pure function, so a spec can pin
  * them without starting a context.
  */
object Session {

  /** Settings of [[sweep]], read from `env`.
    *
    * Shuffle width is sized to the DATA (sub-GB at bench scale), not to
    * the thread count: AQE coalesces small shuffles anyway, and 32-way
    * shuffles of KB-sized partitions pay pure scheduling overhead. Scans
    * still use every core (maxPartitionBytes governs them);
    * `SPARK_GRAFT_SHUFFLE` overrides it for bigger inputs. Results are
    * partition-count invariant, so this only affects wall time.
    *
    * Auto bucketed scan is off for the whole session: q_bucket_prune
    * needs it off, and a mid-sweep session-conf flip would make later
    * plans order-dependent. */
  def sweepSettings(env: Map[String, String]): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "4")
    Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" ->
        env.getOrElse("SPARK_GRAFT_SHUFFLE", math.min(cpus.toInt, 8).toString),
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.sources.bucketing.autoBucketedScan.enabled" -> "false",
      "spark.ui.enabled" -> "false")
  }

  /** Settings of [[plans]]. `adaptive = false` gives static plans, for
    * tools that walk the physical tree (AQE's wrapper node hides it). */
  def planSettings(adaptive: Boolean): Seq[(String, String)] = Seq(
    "spark.master" -> "local[4]",
    "spark.sql.shuffle.partitions" -> "4",
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.adaptive.enabled" -> adaptive.toString,
    "spark.ui.enabled" -> "false")

  def sweep(): SparkSession = build(sweepSettings(sys.env), "WARN")

  def plans(adaptive: Boolean): SparkSession = build(planSettings(adaptive), "ERROR")

  private def build(settings: Seq[(String, String)], logLevel: String): SparkSession = {
    val spark = settings
      .foldLeft(SparkSession.builder()) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
