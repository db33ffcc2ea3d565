package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.DoubleAdder
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a named call into a layer, with its parent and the round it
  * ran in. `probe` spans are extra calls made only to time one layer;
  * they sit outside the round's timed operations. */
final class Span(val id: Int, val name: String, val parent: Int,
    val round: Int, val probe: Boolean) {
  val startNs: Long = System.nanoTime()
  @volatile var endNs: Long = -1L
  val counters = new ConcurrentHashMap[String, DoubleAdder]()
  def add(k: String, v: Double): Unit =
    counters.computeIfAbsent(k, _ => new DoubleAdder).add(v)
  def ms: Double = (endNs - startNs) / 1e6
  def counter(k: String): Double =
    Option(counters.get(k)).map(_.sum).getOrElse(0.0)
}

/** Spans kept in memory for the whole run. While tracing is on, the span
  * id is set as a Spark local property before each call, a SparkListener
  * charges jobs, stages and task metrics to the innermost open span, and
  * a QueryExecutionListener charges the planning phases of each query. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = new ArrayBuffer[Span]()
  private val byId = new ConcurrentHashMap[Int, Span]()
  private var stack: List[Span] = Nil
  @volatile var tracing = false
  var round = -1
  var probe = false

  private val stageSpan = new ConcurrentHashMap[Int, Span]()
  private def spanOf(props: java.util.Properties): Span =
    Option(props).flatMap(p => Option(p.getProperty(Tracer.Prop)))
      .flatMap(id => Option(byId.get(id.toInt))).orNull

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(spanOf(e.properties)).foreach(_.add("spark.jobs", 1))
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      Option(spanOf(e.properties)).foreach { s =>
        stageSpan.put(e.stageInfo.stageId, s)
        s.add("spark.stages", 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { s =>
        s.add("spark.tasks", 1)
        val m = e.taskMetrics
        if (m != null) {
          s.add("spark.executor_run_ms", m.executorRunTime.toDouble)
          s.add("spark.executor_cpu_ms", m.executorCpuTime / 1e6)
          s.add("spark.gc_ms", m.jvmGCTime.toDouble)
          s.add("spark.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
          s.add("spark.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
          s.add("spark.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
          s.add("spark.input_bytes", m.inputMetrics.bytesRead.toDouble)
          s.add("spark.output_bytes", m.outputMetrics.bytesWritten.toDouble)
        }
      }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
      charge(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit =
      charge(qe)
    private def charge(qe: QueryExecution): Unit = {
      val s = current
      if (s != null) qe.tracker.phases.foreach { case (phase, p) =>
        s.add(s"spark.${phase}_ms", p.durationMs.toDouble)
      }
    }
  }

  @volatile private var current: Span = null

  def startTracing(): Unit = if (!tracing) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    tracing = true
  }

  def stopTracing(): Unit = if (tracing) {
    PerfbenchBus.drain(sc)
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    tracing = false
  }

  /** Run `body` inside a span; the span stays open (and innermost) until
    * the body returns, and while tracing the bus is drained at its end so
    * its events are charged to it and not to the next span. */
  def span[T](name: String)(body: => T): T = {
    val parent = stack.headOption
    val s = new Span(spans.size, name, parent.map(_.id).getOrElse(-1), round, probe)
    spans += s
    byId.put(s.id, s)
    stack = s :: stack
    current = s
    sc.setLocalProperty(Tracer.Prop, s.id.toString)
    val c0 = CodeGenerator.compileTime
    try body
    finally {
      if (tracing) PerfbenchBus.drain(sc)
      s.add("spark.codegen_compile_ms", (CodeGenerator.compileTime - c0) / 1e6)
      s.endNs = System.nanoTime()
      stack = stack.tail
      current = stack.headOption.orNull
      sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
    }
  }

  def inRound(r: Int): Seq[Span] = spans.toSeq.filter(_.round == r)

  /** Sum of a counter over the innermost charges in one round's timed
    * operations (probes excluded). Codegen time is taken per span
    * inclusive of children, so it is summed over top-level spans only. */
  def roundTotal(r: Int, k: String): Double = {
    val ss = inRound(r).filterNot(_.probe)
    if (k == "spark.codegen_compile_ms")
      ss.filter(s => s.parent >= 0 && byId.get(s.parent).name == "round").map(_.counter(k)).sum
    else ss.map(_.counter(k)).sum
  }

  def all: Seq[Span] = spans.toSeq

  /** Every span, times in ms from the first span's start. */
  def toJson: java.util.List[Any] = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    Harness.jlist(spans.toSeq.map(s => Harness.jmap(
      "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "round" -> s.round,
      "probe" -> s.probe, "start_ms" -> (s.startNs - t0) / 1e6,
      "end_ms" -> (s.endNs - t0) / 1e6,
      "counters" -> Harness.jmap(s.counters.asScala.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> v.sum }: _*))))
  }
}

object Tracer {
  val Prop = "perfbench.span"
  val SparkCounters = Seq(
    "spark.analysis_ms", "spark.optimization_ms", "spark.planning_ms",
    "spark.codegen_compile_ms", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.executor_run_ms", "spark.executor_cpu_ms", "spark.gc_ms",
    "spark.shuffle_write_bytes", "spark.shuffle_read_bytes", "spark.spill_bytes",
    "spark.input_bytes", "spark.output_bytes")
}
