package graft.tools

/** Dumps `explain("formatted")` for the named queries to files — the
  * optimization-round evidence trail (plans/r15/<query>_before.txt /
  * _after.txt). Unlike [[graft.PlanAudit]] (the curated PLANS.md
  * narrative), this is a plain per-query dump driven by the arg list,
  * run under the Bench session ([[graft.Session.sweep]]) so the
  * captured plan is the one the sweep executes.
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.tools.ExplainDump /root/repo/plans/r15 before q_acf q_pacf"
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: ExplainDump <outDir> <suffix> <query>...")
    val outDir = args(0)
    val suffix = args(1)
    val names = args.drop(2).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Session.sweep()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { q =>
      val fn = graft.SparkEntry.queries.getOrElse(q, sys.error(s"unknown query $q"))
      val df = fn(spark, sfDir)
      // queryExecution text, not df.explain (which prints to console)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      // plan ids, stage paths, lambda names and identity hashes churn
      // every run; PlanAudit's normaliser is the one rule for them
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${q}_$suffix.txt"), graft.PlanAudit.normalise(txt))
      try { graft.Caches.drain(); spark.catalog.clearCache() }
      catch { case _: Throwable => }
      println(s"[explain] wrote $outDir/${q}_$suffix.txt")
    }
    spark.stop()
  }
}
