package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One workload run in one JVM: an untimed cold pass (billed to set-up),
  * then `rounds` whole rounds of a fixed list of operations; half the
  * rounds of a traced run are traced. Writes everything it
  * measured to `out` as JSON; perfbench/run.py checks the outputs and
  * prints the result.
  *
  * Usage: perfbench.Harness key=value ... with keys workload, sf, raw,
  * warm, work, out, rounds, trace, cpus, keys (catalog key list),
  * batches, warm_batches, station.
  */
object Harness {

  final case class OpRec(round: Int, name: String, ms: Double, cpuMs: Double,
      ok: Boolean, p50: Boolean, error: String)

  final case class RoundRec(index: Int, traced: Boolean, wallMs: Double, jitMs: Double)

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    if (conf("workload") == "oracle_sql") {
      // the catalog's DuckDB oracle SQL for the given keys; no session
      val keys = conf("keys").split(",").toSeq.filter(_.nonEmpty)
      Files.writeString(Paths.get(conf("out")), new ObjectMapper().writeValueAsString(
        jmap(keys.map(k => k -> graft.SparkEntry.oracleSql.getOrElse(k, null)): _*)))
      return
    }
    val work = conf("work")
    val cpus = conf("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.default.parallelism", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val h = new Harness(spark, conf)
    val result = try h.run() finally spark.stop()
    Files.writeString(Paths.get(conf("out")),
      new ObjectMapper().writerWithDefaultPrettyPrinter().writeValueAsString(result))
  }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  def jlist(xs: Seq[Any]): java.util.List[Any] = xs.asJava
  def jmap(kv: (String, Any)*): java.util.Map[String, Any] = {
    val m = new java.util.LinkedHashMap[String, Any]()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }
}

final class Harness(val spark: SparkSession, val conf: Map[String, String]) {
  import Harness._

  val work: String = conf("work")
  val nRounds: Int = conf("rounds").toInt
  val traceMode: Boolean = conf.getOrElse("trace", "0") == "1"
  val tracer = new Tracer(spark)
  val ops = new ArrayBuffer[OpRec]()
  val rounds = new ArrayBuffer[RoundRec]()
  val problems = new ArrayBuffer[String]()
  val extra = new java.util.LinkedHashMap[String, Any]()
  val layer = new java.util.LinkedHashMap[String, Any]()
  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private var roundIndex = -1
  private var timed = false

  /** One timed operation: a call into a public entry point, run until its
    * write commits or its result is collected. Failures are counted, not
    * thrown. */
  def op[T](name: String, p50: Boolean = true)(body: => T): Option[T] = {
    val cpu0 = osBean.getProcessCpuTime
    val t0 = System.nanoTime()
    val r = try Right(tracer.span(name)(body)) catch { case e: Throwable => Left(e) }
    val ms = (System.nanoTime() - t0) / 1e6
    val cpuMs = (osBean.getProcessCpuTime - cpu0) / 1e6
    r match {
      case Left(e) =>
        val msg = s"$name: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        if (timed) ops += OpRec(roundIndex, name, ms, cpuMs, ok = false, p50, msg)
        else problems += s"cold pass: $msg"
        None
      case Right(v) =>
        if (timed) ops += OpRec(roundIndex, name, ms, cpuMs, ok = true, p50, null)
        Some(v)
    }
  }

  /** A layer-timing call made only in traced rounds, outside the round's
    * timed operations. */
  def probe[T](name: String)(body: => T): Option[T] = {
    tracer.probe = true
    try Some(tracer.span(name)(body)) catch {
      case e: Throwable => problems += s"probe $name: $e"; None
    } finally tracer.probe = false
  }

  def run(): java.util.Map[String, Any] = {
    val workload: Workload = conf("workload") match {
      case "weather_etl" => new WeatherEtl(this)
      case "corpus_pipeline" => new CorpusPipeline(this)
      case "catalog_sql" => new CatalogSql(this)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val comp = ManagementFactory.getCompilationMXBean
    val c0 = org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    tracer.round = -1
    workload.cold(traceMode)
    val setupDone = System.currentTimeMillis()
    layer.put("setup.codegen_compile_ms",
      (org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime - c0) / 1e6)
    layer.put("setup.jit_ms", comp.getTotalCompilationTime.toDouble)
    val gc0 = gcTotals
    val jit0 = comp.getTotalCompilationTime
    timed = true
    // a fixed list of rounds. In a traced run every second round is
    // traced (at least one of each); the JIT warm-up makes later rounds
    // cheaper, so the overhead it states is a low estimate
    val total = if (traceMode) 2 * math.max(1, nRounds / 2) else nRounds
    for (r <- 0 until total) {
      val traced = traceMode && r % 2 == 1
      roundIndex = r
      tracer.round = r
      if (traced) tracer.startTracing()
      workload.beforeRound(r)
      val jitR0 = comp.getTotalCompilationTime
      tracer.span("round")(workload.round(r, traced))
      // a round's wall and CPU time are those of its operations; checks
      // the harness makes between operations are not counted
      val mine = ops.filter(_.round == r)
      val jitMs = (comp.getTotalCompilationTime - jitR0).toDouble
      if (traced) workload.probes(r)
      if (traced) tracer.stopTracing()
      rounds += RoundRec(r, traced, mine.map(_.ms).sum, jitMs)
    }
    val gc1 = gcTotals
    timed = false
    workload.finish()
    if (traceMode) traceMetrics(workload)
    jmap(
      "setup_done_ms" -> setupDone,
      "rounds" -> jlist(rounds.toSeq.map(x => jmap("index" -> x.index,
        "traced" -> x.traced))),
      "ops" -> jlist(ops.toSeq.map(o => jmap("round" -> o.round, "name" -> o.name,
        "ms" -> o.ms, "cpu_ms" -> o.cpuMs, "ok" -> o.ok, "p50" -> o.p50, "error" -> o.error))),
      "problems" -> jlist(problems.toSeq),
      "host" -> jmap(
        "gc_count" -> (gc1._1 - gc0._1), "gc_ms" -> (gc1._2 - gc0._2),
        "gc_count_total" -> gc1._1, "gc_ms_total" -> gc1._2,
        "jit_ms" -> (comp.getTotalCompilationTime - jit0),
        "jit_ms_total" -> comp.getTotalCompilationTime,
        "local_n" -> conf("cpus").toInt,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions").toInt),
      "peak_rss_mb" -> peakRssMb,
      "workload" -> extra,
      "layer" -> layer,
      "spans" -> (if (traceMode) tracer.toJson else jlist(Nil)))
  }

  private def gcTotals: (Long, Long) = {
    val bs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    (bs.map(_.getCollectionCount).sum, bs.map(_.getCollectionTime).sum)
  }

  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)

  /** Per-layer numbers from the traced rounds: Spark counters summed per
    * round, medians over rounds; span times as medians over calls. */
  private def traceMetrics(w: Workload): Unit = {
    val tr = rounds.filter(_.traced).map(_.index).toSeq
    Tracer.SparkCounters.foreach { k =>
      layer.put(k, median(tr.map(r => tracer.roundTotal(r, k))))
    }
    layer.put("jvm.jit_ms", median(rounds.filter(_.traced).map(_.jitMs).toSeq))
    val tw = median(rounds.filter(_.traced).map(_.wallMs).toSeq)
    val uw = median(rounds.filterNot(_.traced).map(_.wallMs).toSeq)
    layer.put("trace.wall_s", tw / 1000)
    layer.put("trace.overhead_s", (tw - uw) / 1000)
    w.layerMetrics(tr)
  }

  /** Median duration of spans with this name in the given rounds. */
  def spanMedian(name: String, rs: Seq[Int]): Double =
    median(tracer.all.filter(s => s.name == name && rs.contains(s.round)).map(_.ms))

  def spanCounterMedian(name: String, k: String, rs: Seq[Int]): Double =
    median(tracer.all.filter(s => s.name == name && rs.contains(s.round)).map(_.counter(k)))
}

/** A workload: a cold pass, then identical rounds of timed operations. */
trait Workload {
  /** Untimed first calls of every operation (and, in a traced run, of
    * every probe), so that the timed rounds run warm. */
  def cold(traced: Boolean): Unit
  def beforeRound(r: Int): Unit = ()
  def round(r: Int, traced: Boolean): Unit
  def probes(r: Int): Unit = ()
  def finish(): Unit = ()
  def layerMetrics(tracedRounds: Seq[Int]): Unit = ()
}
