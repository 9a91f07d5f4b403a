package graftbench

import org.apache.spark.BenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** One timed call into a layer. Times are nanoseconds since the tracer
  * started; `trace` is the operation (range, poll or query) it serves. */
final case class Span(id: Int, parent: Int, trace: Int, name: String,
                      start: Long, end: Long)

/** Per-layer Spark work, credited by the layer tag the job carried. */
final class LayerWork {
  var jobs, stages, tasks = 0L
  var runNs, cpuNs, gcMs, schedMs = 0L
  var shuffleRead, shuffleWrite, bytesWritten, jdbcRows = 0L
  var planMs = 0L
}

/** Spans and Spark job accounting for the traced run.
  *
  * Each span tags the jobs it starts with the Spark local properties
  * [[Tracer.LayerKey]] and [[Tracer.TraceKey]]; a SparkListener credits
  * jobs, stages and task metrics to the tag, and a QueryExecutionListener
  * credits planning time to the innermost open span. Listener events
  * arrive asynchronously, so the bus is drained at every span boundary.
  * With tracing off, `span` only runs its body: no tags, no listener. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  private val t0 = System.nanoTime()
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 0
  private var trace = 0
  /** Name of the innermost open span, read by the listener thread. */
  @volatile private var current = "untagged"

  val work = mutable.LinkedHashMap[String, LayerWork]()
  /** Jobs per (span name, trace), for per-operation job counts. */
  val jobsByTrace = mutable.Map[(String, Int), Int]()
  private val stageLayer = mutable.Map[Int, String]()
  private val jdbcStages = mutable.Set[Int]()

  private def layer(name: String): LayerWork = synchronized {
    work.getOrElseUpdate(name, new LayerWork)
  }

  private val jobListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val name = Option(e.properties).flatMap(p => Option(p.getProperty(LayerKey)))
        .getOrElse("untagged")
      val tr = Option(e.properties).flatMap(p => Option(p.getProperty(TraceKey)))
        .map(_.toInt).getOrElse(-1)
      layer(name).jobs += 1
      jobsByTrace((name, tr)) = jobsByTrace.getOrElse((name, tr), 0) + 1
      e.stageInfos.foreach { s =>
        stageLayer(s.stageId) = name
        if (s.rddInfos.exists(_.name.contains("JDBC"))) jdbcStages += s.stageId
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        layer(stageLayer.getOrElse(e.stageInfo.stageId, "untagged")).stages += 1
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val w = layer(stageLayer.getOrElse(e.stageId, "untagged"))
        val info = e.taskInfo
        w.tasks += 1
        w.runNs += m.executorRunTime * 1000000L
        w.cpuNs += m.executorCpuTime
        w.gcMs += m.jvmGCTime
        // Spark UI's scheduler delay: task duration not spent deserializing,
        // running, serializing the result or fetching it.
        val fetchMs =
          if (info.gettingResultTime > 0) info.finishTime - info.gettingResultTime else 0L
        w.schedMs += math.max(0L, info.finishTime - info.launchTime - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime - fetchMs)
        w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        w.bytesWritten += m.outputMetrics.bytesWritten
        if (jdbcStages.contains(e.stageId)) w.jdbcRows += m.inputMetrics.recordsRead
      }
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      credit(qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit =
      credit(qe)
    private def credit(qe: QueryExecution): Unit = {
      val ms = qe.tracker.phases.values.map(_.durationMs).sum
      Tracer.this.synchronized { layer(current).planMs += ms }
    }
  }

  if (enabled) {
    sc.addSparkListener(jobListener)
    spark.listenerManager.register(planListener)
  }

  /** Starts the next operation; spans opened from now on belong to it. */
  def newTrace(): Int = { trace += 1; trace }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      drain()
      val parent = stack.headOption
      val s = Span(nextId, parent.fold(-1)(_.id), trace, name, System.nanoTime() - t0, 0L)
      nextId += 1
      stack = s :: stack
      tag(name)
      try body
      finally {
        drain()
        spans += s.copy(end = System.nanoTime() - t0)
        stack = stack.tail
        tag(parent.fold("untagged")(_.name))
      }
    }

  private def tag(name: String): Unit = {
    current = name
    sc.setLocalProperty(LayerKey, name)
    sc.setLocalProperty(TraceKey, trace.toString)
  }

  def drain(): Unit = if (enabled) BenchBus.drain(sc)

  def close(): Unit = if (enabled) {
    drain()
    sc.removeSparkListener(jobListener)
    spark.listenerManager.unregister(planListener)
    sc.setLocalProperty(LayerKey, null)
    sc.setLocalProperty(TraceKey, null)
  }

  /** Seconds covered by spans named `name`. */
  def seconds(name: String): Double =
    spans.iterator.filter(_.name == name).map(s => s.end - s.start).sum / 1e9

  def calls(name: String): Int = spans.count(_.name == name)

  /** Self time of the spans named `name`: their duration minus the part
    * of it their child spans cover. */
  def selfSeconds(name: String): Double = {
    val byParent = spans.groupBy(_.parent)
    spans.iterator.filter(_.name == name).map { s =>
      val kids = byParent.getOrElse(s.id, Nil).map(k => k.end - k.start).sum
      s.end - s.start - kids
    }.sum / 1e9
  }

  def spansJson: Seq[Map[String, Any]] = spans.toSeq.map(s => Map(
    "id" -> s.id, "parent" -> s.parent, "trace" -> s.trace, "name" -> s.name,
    "start_ns" -> s.start, "end_ns" -> s.end))
}

object Tracer {
  val LayerKey = "graftbench.layer"
  val TraceKey = "graftbench.trace"
}
