package graftbench

import graft.{Caches, SparkEntry}
import org.apache.spark.sql.SparkSession

/** The `query_mix` workload: a fixed sample of `SparkEntry.queries`, each
  * built with `fn(spark, dir)` and forced with `.count()`, then
  * `Caches.drain()` + `clearCache()` as the project's own bench does.
  * The warm-up runs the same sample over the small tables and counts as
  * set-up; the timed passes run it over the large ones. */
object QueryMix {

  /** Pack name -> query names, for the benchmark's sampler. A query that
    * no listed pack object declares lands in the `other` pack. */
  def catalog(): Map[String, Any] = {
    import graft.queries._
    val packs = Seq(
      "Relational" -> Relational.queries, "Joins" -> Joins.queries,
      "Windows" -> Windows.queries, "EtlQueries" -> EtlQueries.queries,
      "Llm" -> Llm.queries, "Extras" -> Extras.queries,
      "Pipeline" -> Pipeline.queries, "Analytics" -> Analytics.queries,
      "Warehouse" -> Warehouse.queries, "Trend" -> Trend.queries,
      "Linkage" -> Linkage.queries, "Alloc" -> Alloc.queries,
      "Curate" -> Curate.queries, "Quality" -> Quality.queries,
      "Featurize" -> Featurize.queries, "Serving" -> Serving.queries,
      "Corpus" -> Corpus.queries, "Metrics" -> Metrics.queries,
      "Encode" -> Encode.queries, "Infer" -> Infer.queries,
      "Augment" -> Augment.queries, "Audit" -> Audit.queries,
      "Adaptive" -> Adaptive.queries, "Train" -> Train.queries,
      "Evaluate" -> Evaluate.queries, "Network" -> Network.queries)
      .map { case (p, qs) => p -> qs.keySet }
    val all = SparkEntry.queries.keySet
    val other = all -- packs.flatMap(_._2)
    val listed = packs.map { case (p, qs) => p -> (qs & all).toSeq.sorted }
    Map("packs" -> (listed ++ (if (other.isEmpty) Nil else Seq("other" -> other.toSeq.sorted)))
      .filter(_._2.nonEmpty).toMap)
  }

  /** Runs each query once; returns one record per query. */
  private def pass(spark: SparkSession, tr: Tracer, dir: String,
                   names: Seq[String]): Seq[Map[String, Any]] = {
    val queries = SparkEntry.queries
    names.map { name =>
      val trace = tr.newTrace()
      val t0 = System.nanoTime()
      val rec: Map[String, Any] =
        try {
          val df = tr.span("queries.build")(queries(name)(spark, dir))
          val n = tr.span("queries.action")(df.count())
          Map("ok" -> true, "wall_s" -> (System.nanoTime() - t0) / 1e9, "rows" -> n)
        } catch { case e: Throwable => Map("ok" -> false, "error" -> e.toString) }
      try { Caches.drain(); spark.catalog.clearCache() }
      catch { case _: Throwable => }
      rec ++ Map("name" -> name, "trace" -> trace)
    }
  }

  def run(spark: SparkSession, tr: Tracer, spec: Spec, timed: () => Unit): Map[String, Any] = {
    val names = spec.strs("sample")
    val t0 = System.nanoTime()
    val warm = pass(spark, new Tracer(spark, enabled = false), spec.str("warm_dir"), names)
    val setup = Seq((System.nanoTime() - t0) / 1e9)
    timed()
    // One pass per data directory: each is its own path to the same
    // tables, so stage memos keyed by the directory are built in every pass.
    val ops = spec.strs("data_dirs").zipWithIndex.flatMap { case (dir, i) =>
      pass(spark, tr, dir, names).map(_ + ("pass" -> i))
    }
    val oracle = SparkEntry.oracleSql
    Map("setup_s" -> setup, "ops" -> ops,
      "setup_ops" -> warm.size,
      "setup_failures" -> warm.filter(_("ok") == false).map(o => s"warm-up ${o("name")}: ${o("error")}"),
      "oracle_sql" -> names.flatMap(n => oracle.get(n).map(n -> _)).toMap,
      "layers" -> (if (tr.enabled) layers(tr) else Map()))
  }

  /** The `queries` layer's metrics from the traced run. */
  private def layers(tr: Tracer): Map[String, Any] = {
    val w = tr.work
    def jobs(name: String) = w.get(name).map(_.jobs).getOrElse(0L)
    val perQuery = tr.jobsByTrace.toSeq
      .collect { case ((n, t), j) if n.startsWith("queries.") => t -> j }
      .groupMapReduce(_._1)(_._2)(_ + _)
    val traces = tr.spans.filter(_.name == "queries.build").map(_.trace).distinct
    Map(
      "queries.build_s" -> tr.seconds("queries.build"),
      "queries.build_jobs" -> jobs("queries.build"),
      "queries.plan_s" -> Seq("queries.build", "queries.action")
        .flatMap(w.get).map(_.planMs).sum / 1e3,
      "queries.action_s" -> tr.seconds("queries.action"),
      "queries.action_jobs" -> jobs("queries.action"),
      "queries.jobs_per_query_p50" -> Stats.median(traces.map(t => perQuery.getOrElse(t, 0).toDouble).toSeq))
  }
}
