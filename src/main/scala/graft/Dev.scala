package graft

/** Dev-only timing loop: runs the named queries N times each under the
  * Bench session ([[Session.sweep]]) and prints every run's wall — the
  * warm repeats expose steady-state cost (what a perf change moves)
  * without a full sweep. Between runs it drains scoped caches and
  * clears the cache, like Bench's timed loop. Bench remains the
  * official measurement (probes, self-correction, history).
  *
  * Usage: SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 \
  *        sbt "runMain graft.Dev q_kcore q_hits [reps]"
  *
  * Each run prints `wall(c<cpu s>,g<gc s>)`; reps defaults to 3.
  */
object Dev {
  def main(args: Array[String]): Unit = {
    val (repArgs, names) =
      args.partition(a => a.nonEmpty && a.forall(_.isDigit)) match {
        case (r, n) => (r.toSeq, n.toSeq.filter(_.nonEmpty))
      }
    require(repArgs.size <= 1,
      s"at most one rep-count argument, got: ${repArgs.mkString(", ")}")
    val reps = repArgs.headOption.map(_.toInt).getOrElse(3)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Session.sweep()
    Tables.warm(spark, sfDir)
    names.foreach { q =>
      val fn = SparkEntry.queries.getOrElse(q,
        sys.error(s"unknown query $q"))
      val probe = Bench.cpuProbeMs()
      val walls = (1 to reps).map { _ =>
        val s0 = Bench.snapshot()
        val t0 = System.nanoTime()
        fn(spark, sfDir).collect()
        val w = (System.nanoTime() - t0) / 1e9
        val s1 = Bench.snapshot()
        try { Caches.drain(); spark.catalog.clearCache() }
        catch { case _: Throwable => }
        f"$w%.2f(c${s1._1 - s0._1}%.1f,g${s1._2 - s0._2}%.1f)"
      }
      println(f"[dev] $q%-28s ${walls.mkString(" ")}  probe=${probe}%.0fms")
    }
    spark.stop()
  }
}
