package graftbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Bench
import org.apache.spark.sql.SparkSession

import java.io.File

/** A workload spec, as written by `perfbench/run.py`. */
final class Spec(m: Map[String, Any]) {
  def str(k: String): String = m(k).toString
  def long(k: String): Long = m(k).asInstanceOf[Number].longValue
  def int(k: String): Int = long(k).toInt
  def strs(k: String): Seq[String] = m(k).asInstanceOf[Seq[Any]].map(_.toString)
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
}

/** Runs one workload in one JVM and writes its raw record as JSON.
  *
  * {{{
  * graftbench.Main catalog <out.json>
  * graftbench.Main run <spec.json> <out.json>
  * }}}
  *
  * The record holds set-up times, one entry per operation (range, poll or
  * query) with its wall time or its error, host-condition probes taken
  * before and after the workload, the JVM's peak RSS and, in a traced run,
  * the per-layer metrics and the spans they were derived from. Metrics,
  * percentiles and output checks are computed from it by `run.py`. */
object Main {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)

  def main(args: Array[String]): Unit = args.toSeq match {
    case Seq("catalog", out) => write(out, QueryMix.catalog())
    case Seq("run", specPath, out) =>
      val spec = new Spec(mapper.readValue(new File(specPath), classOf[Map[String, Any]]))
      write(out, run(spec))
    case _ => sys.error("usage: graftbench.Main catalog <out> | run <spec> <out>")
  }

  private def write(path: String, value: Any): Unit =
    mapper.writeValue(new File(path), value)

  /** The same session settings as `graft.Bench.main`; scratch paths stay
    * inside the run's work directory. */
  def session(cores: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", math.min(cores, 8).toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  private def host(spark: SparkSession): Map[String, Any] = {
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    Map("load_avg_1m" -> os.getSystemLoadAverage, "cpu_probe_ms" -> Bench.cpuProbeMs(),
      "engine_probe_ms" -> Bench.engineProbeMs(spark))
  }

  /** Heap still in use after a full collection, in MiB: what the workload
    * left behind (caches, memos, listener state), free of the GC-timing
    * noise that peak RSS carries. */
  private def retainedHeapMb(): Double = {
    System.gc()
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed /
      1048576.0
  }

  /** The JVM's peak resident set size (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024
    }.getOrElse(0.0)
    finally src.close()
  }

  def run(spec: Spec): Map[String, Any] = {
    val work = spec.str("work_dir")
    val cores = spec.int("cores")
    // DerbyStage points Derby's log at a fixed path when it initialises;
    // initialise it first (Derby itself boots later, on first connection),
    // then keep the log inside the work directory.
    require(graft.etl.DerbyStage.driver.nonEmpty)
    System.setProperty("derby.stream.error.file", s"$work/derby.log")
    val t0 = System.nanoTime()
    val spark = session(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    try {
      val tr = new Tracer(spark, spec.str("trace") == "1")
      // Host condition right before the timed part starts (after set-up)
      // and right after it ends.
      var before = Map.empty[String, Any]
      var w0 = 0L
      val timed = () => { before = host(spark); w0 = System.nanoTime() }
      val result = spec.str("workload") match {
        case "migrate_bulk" => Etl.bulk(spark, tr, spec, timed)
        case "migrate_sync" => Etl.sync(spark, tr, spec, timed)
        case "query_mix" => QueryMix.run(spark, tr, spec, timed)
        case other => sys.error(s"unknown workload $other")
      }
      val wallS = (System.nanoTime() - w0) / 1e9
      tr.close()
      val after = host(spark)
      val layers = result("layers").asInstanceOf[Map[String, Any]] ++
        (if (tr.enabled) sparkLayer(tr, cores) else Map.empty)
      result ++ Map("session_s" -> sessionS, "workload_s" -> wallS,
        "host" -> Map("before" -> before, "after" -> after,
          "nproc" -> Runtime.getRuntime.availableProcessors),
        "peak_rss_mb" -> peakRssMb(), "retained_heap_mb" -> retainedHeapMb(),
        "layers" -> layers,
        "spans" -> tr.spansJson)
    } finally spark.stop()
  }

  /** The `spark` layer: every job the workload's timed part started. */
  private def sparkLayer(tr: Tracer, cores: Int): Map[String, Any] = {
    val ws = tr.work.filter(_._1 != "untagged").values
    def sum(f: LayerWork => Long) = ws.map(f).sum
    val stages = sum(_.stages)
    val busy = tr.spans.filter(_.parent == -1).map(s => s.end - s.start).sum / 1e9
    Map(
      "spark.jobs" -> sum(_.jobs), "spark.stages" -> stages, "spark.tasks" -> sum(_.tasks),
      "spark.tasks_per_stage" -> sum(_.tasks).toDouble / math.max(stages, 1L),
      "spark.sched_delay_s" -> sum(_.schedMs) / 1e3,
      "spark.task_run_s" -> sum(_.runNs) / 1e9,
      "spark.task_cpu_s" -> sum(_.cpuNs) / 1e9,
      "spark.core_busy_frac" -> sum(_.runNs) / 1e9 / math.max(busy * cores, 1e-9),
      "spark.shuffle_read_bytes" -> sum(_.shuffleRead),
      "spark.shuffle_write_bytes" -> sum(_.shuffleWrite),
      "spark.gc_s" -> sum(_.gcMs) / 1e3)
  }
}
