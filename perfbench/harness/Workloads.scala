package perfbench

import java.nio.file.{Files, Paths}
import java.util.zip.CRC32
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType}

import graft.SparkEntry
import graft.ops.{CorpusPrep, Upsert, WeatherPipeline}

/** The paper's ETL job: bulk load of the raw zone, then monthly-style
  * incremental batches, each followed by the reference's Q1-Q3. Every
  * round starts from a fresh table, so all rounds do the same work. */
final class WeatherEtl(h: Harness) extends Workload {
  import Harness._
  private val spark = h.spark
  private val raw = h.conf("raw")
  private val batches = h.conf("batches").toInt
  private val station = h.conf("station")
  private val partCols = Seq("island", "location_name", "year", "month")
  private val keys = Seq("location_name", "date")
  private def table(r: Int) = s"${h.work}/table_${if (r < 0) "cold" else r.toString}"
  private val warm = h.conf("warm")
  private val warmBatches = h.conf("warm_batches").toInt

  private val answers = new java.util.ArrayList[Any]()
  private val rewritten = mutable.Map[Int, mutable.ArrayBuffer[Double]]()
  private var layout: (Int, Int, Long) = (0, 0, 0L)

  private val q1 = """SELECT location_name, avg(sunshine_duration) / 3600 AS raw,
      |  round(avg(sunshine_duration) / 3600, 2) AS sun_hours
      |FROM clean GROUP BY location_name
      |ORDER BY sun_hours DESC, location_name""".stripMargin
  private val q2 = """SELECT location_name, month, avg(sunshine_duration) / 3600 AS raw,
      |  round(avg(sunshine_duration) / 3600, 2) AS sun_hours
      |FROM clean GROUP BY location_name, month
      |ORDER BY raw DESC, location_name, month LIMIT 10""".stripMargin
  private def q3 = s"""SELECT month, avg(uvindex) AS raw, round(avg(uvindex), 1) AS avg_uv
      |FROM clean WHERE location_name = '$station'
      |GROUP BY month ORDER BY month""".stripMargin

  /** relative path -> (size, crc32) of the table's data files. */
  private def listing(dir: String, withCrc: Boolean): Map[String, (Long, Long)] = {
    val root = Paths.get(dir)
    if (!Files.exists(root)) return Map.empty
    val s = Files.walk(root)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).filter { p =>
      val n = p.getFileName.toString; !n.startsWith(".") && !n.startsWith("_")
    }.map { p =>
      val crc = if (withCrc) { val c = new CRC32; c.update(Files.readAllBytes(p)); c.getValue } else 0L
      root.relativize(p).toString -> (Files.size(p), crc)
    }.toMap finally s.close()
  }

  private def rows(rs: Array[Row]): java.util.List[Any] =
    jlist(rs.toSeq.map(r => jlist(r.toSeq)))

  private def bulk(rawRoot: String, r: Int, traced: Boolean): Unit =
    if (!traced) WeatherPipeline.run(spark, s"$rawRoot/bulk", table(r))
    else {
      val clean = h.tracer.span("readers.infer")(WeatherPipeline.transform(spark, s"$rawRoot/bulk"))
      h.tracer.span("bulk.write")(Upsert.writePartitioned(clean, table(r), partCols))
    }

  /** One monthly cycle: merge the batch, reopen the table, run Q1-Q3. */
  private def cycle(rawRoot: String, r: Int, b: Int, traced: Boolean,
      listFiles: Boolean): java.util.Map[String, Any] = {
    val batchDir = f"$rawRoot/batch_$b%02d"
    val before = if (listFiles) listing(table(r), withCrc = true) else Map.empty[String, (Long, Long)]
    if (!traced) h.tracer.span("incremental")(WeatherPipeline.incremental(spark, batchDir, table(r)))
    else {
      val batch = h.tracer.span("batch.infer")(WeatherPipeline.transform(spark, batchDir))
      h.tracer.span("upsert")(Upsert.upsertIntoPath(spark, table(r), batch, keys, partCols))
    }
    val changed = if (listFiles) {
      val after = listing(table(r), withCrc = true)
      if (traced) rewritten.getOrElseUpdate(r, mutable.ArrayBuffer()) +=
        after.count { case (k, v) => !before.get(k).contains(v) }.toDouble
      (before.keySet ++ after.keySet).filter(k => before.get(k) != after.get(k)).toSeq.sorted
    } else Seq.empty
    val clean = h.tracer.span("table.open")(spark.read.parquet(table(r)))
    clean.createOrReplaceTempView("clean")
    val a1 = h.tracer.span("query.q1")(spark.sql(q1).collect())
    val a2 = h.tracer.span("query.q2")(spark.sql(q2).collect())
    val a3 = h.tracer.span("query.q3")(spark.sql(q3).collect())
    jmap("round" -> r, "batch" -> b, "q1" -> rows(a1), "q2" -> rows(a2), "q3" -> rows(a3),
      "changed_files" -> jlist(changed))
  }

  private def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }
  }

  /** Cold pass: the same operations on a small raw zone of the same
    * shape (JIT, codegen cache, file-source set-up). */
  def cold(traced: Boolean): Unit = {
    h.op("bulk", p50 = false)(bulk(warm, -1, traced))
    for (b <- 1 to warmBatches)
      h.op("cycle")(cycle(warm, -1, b, traced, listFiles = traced))
    if (traced) probe(warm)
  }

  override def beforeRound(r: Int): Unit = {
    deleteTree(table(-1))
    deleteTree(table(r - 1))
  }

  /** A round: bulk load, then every batch with its queries. The first
    * round also records what the checker needs between operations (row
    * counts, files each batch changed); that work is not timed. */
  def round(r: Int, traced: Boolean): Unit = {
    val checks = r == 0
    h.op("bulk", p50 = false)(bulk(raw, r, traced))
    if (checks) h.extra.put("bulk_count", spark.read.parquet(table(r)).count())
    val counts = new java.util.ArrayList[Any]()
    val files = new java.util.ArrayList[Any]()
    for (b <- 1 to batches) {
      h.op("cycle")(cycle(raw, r, b, traced, listFiles = checks || traced)).foreach { a =>
        answers.add(a)
        if (checks) files.add(a.get("changed_files"))
      }
      if (checks) counts.add(spark.read.parquet(table(r)).count())
    }
    if (checks) {
      h.extra.put("batch_counts", counts)
      h.extra.put("changed_files", files)
    }
    if (traced) {
      val l = listing(table(r), withCrc = false)
      layout = (l.size, l.keys.map(k => k.substring(0, k.lastIndexOf('/'))).toSet.size,
        l.values.map(_._1).sum)
    }
  }

  private def probe(rawRoot: String): Unit =
    h.probe("transform")(WeatherPipeline.transform(spark, s"$rawRoot/bulk").count())

  override def probes(r: Int): Unit = probe(raw)

  override def finish(): Unit = {
    h.extra.put("answers", answers)
    h.extra.put("final_table", table(h.rounds.last.index))
  }

  override def layerMetrics(tr: Seq[Int]): Unit = {
    val l = h.layer
    l.put("readers.infer_ms", h.spanMedian("readers.infer", tr))
    l.put("transform.ms", h.spanMedian("transform", tr))
    l.put("bulk.write_ms", h.spanMedian("bulk.write", tr))
    l.put("upsert.ms", h.spanMedian("upsert", tr))
    l.put("upsert.files_rewritten", median(tr.flatMap(r => rewritten.getOrElse(r, Nil))))
    l.put("table.open_ms", h.spanMedian("table.open", tr))
    l.put("table.files", layout._1)
    l.put("table.partitions", layout._2)
    l.put("table.bytes", layout._3)
    l.put("query.q1_ms", h.spanMedian("query.q1", tr))
    l.put("query.q2_ms", h.spanMedian("query.q2", tr))
    l.put("query.q3_ms", h.spanMedian("query.q3", tr))
    l.put("query.q3_bytes_read", h.spanCounterMedian("query.q3", "spark.input_bytes", tr))
  }
}

/** Repeated warm calls of catalog keys (SparkEntry.queries). A call
  * builds the key's DataFrame and computes its result to a fingerprint
  * (row count, and the xor and the low-32-bit sum of a 64-bit hash of
  * every row): every column of every row is computed, and nothing is
  * shipped to the driver but one row. The cold pass writes each key's
  * result as parquet for the checker and fingerprints the written files;
  * every timed call must reproduce that fingerprint. */
class KeyCalls(h: Harness, keys: Seq[String]) extends Workload {
  import Harness._
  protected val sf: String = h.conf("sf")
  protected val coldMs = mutable.LinkedHashMap[String, Double]()
  private val saved = mutable.Map[String, String]()
  private def outDir(k: String) = s"${h.work}/outputs/$k"

  private def fingerprint(df: DataFrame): String = {
    val cols = df.columns.map(c => col("`" + c.replace("`", "``") + "`"))
    val hsh = xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), bit_xor(hsh), sum(hsh.bitwiseAND(lit(0xffffffffL)))).head()
    s"${r.getLong(0)}/${r.get(1)}/${r.get(2)}"
  }

  /** The first call of each key writes its result for the checker. */
  def cold(traced: Boolean): Unit = keys.foreach { k =>
    val t0 = System.nanoTime()
    h.op(k)(SparkEntry.queries(k)(h.spark, sf).write.mode("overwrite").parquet(outDir(k)))
      .foreach { _ =>
        coldMs(k) = (System.nanoTime() - t0) / 1e6
        saved(k) = fingerprint(h.spark.read.parquet(outDir(k)))
      }
  }

  protected def call(k: String): String = fingerprint(SparkEntry.queries(k)(h.spark, sf))

  def round(r: Int, traced: Boolean): Unit = keys.foreach { k =>
    h.op(k)(call(k)).foreach { fp =>
      if (!saved.get(k).contains(fp))
        h.problems += s"$k: round $r computed other rows than the checked cold call " +
          s"($fp vs ${saved.getOrElse(k, "none")})"
    }
  }

  override def finish(): Unit = {
    h.extra.put("outputs", jmap(keys.filter(saved.contains).map(k => k -> outDir(k)): _*))
    h.extra.put("oracle_sql", jmap(keys.map(k => k -> SparkEntry.oracleSql.getOrElse(k, null)): _*))
  }
}

final class CatalogSql(h: Harness)
    extends KeyCalls(h, h.conf("keys").split(",").toSeq.filter(_.nonEmpty)) {
  override def layerMetrics(tr: Seq[Int]): Unit = {
    val keys = h.conf("keys").split(",").toSeq.filter(_.nonEmpty)
    keys.groupBy(_.takeWhile(_ != '_')).toSeq.sortBy(_._1).foreach { case (fam, ks) =>
      h.layer.put(s"catalog.${fam}_ms", ks.map(k => h.spanMedian(k, tr)).sum)
    }
  }
}

/** Training-data pipeline keys. Traced rounds also time, as probes
  * outside the round's operations, the corpus ladder
  * (CorpusPrep.ladderThroughLineDedup) on the input that corpus_prep_e2e
  * builds, and the fuzzy-dedup key. */
final class CorpusPipeline(h: Harness)
    extends KeyCalls(h, h.conf("keys").split(",").toSeq.filter(_.nonEmpty)) {
  import CorpusPipeline._

  /** The built document text of the corpus_prep_e2e catalog key. */
  private def built: DataFrame = {
    val toks = split(col("text"), " ")
    val nLines = ceil(size(toks).cast(DoubleType) / 8).cast(IntegerType)
    val firstLineDot = concat(array_join(slice(toks, 1, 8), " "), lit("."))
    graft.Tables(h.spark, sf, "documents").select(col("doc_id"),
      concat(
        array_join(transform(sequence(lit(0), nLines - 1),
          i => concat(
            array_join(slice(toks, i * 8 + 1, lit(8)), " "),
            when((col("doc_id") + i) % 3 =!= 0, lit(".")).otherwise(lit("")))),
          "\n"),
        lit("\n"), firstLineDot,
        when(col("doc_id") % 37 === 0, lit("\nsee lorem ipsum dolor sit amet."))
          .otherwise(lit("")),
        when(col("doc_id") % 41 === 0, lit("\nvar cfg = {")).otherwise(lit("")))
        .as("text"))
  }

  override def cold(traced: Boolean): Unit = {
    super.cold(traced)
    if (traced) probes(-1)
  }

  override def probes(r: Int): Unit = {
    h.probe("corpus.ladder")(CorpusPrep.ladderThroughLineDedup(built, "doc_id", "text",
      gopherMinWords = 30, gopherMinStopwords = 1).count())
    h.probe(FuzzyKey)(call(FuzzyKey))
  }

  override def layerMetrics(tr: Seq[Int]): Unit = {
    val l = h.layer
    l.put("corpus.ladder_ms", h.spanMedian("corpus.ladder", tr))
    l.put("corpus.prep_ms", h.spanMedian(PrepKey, tr))
    l.put("dedup.fuzzy_ms", h.spanMedian(FuzzyKey, tr))
    l.put("ann.serve_ms", h.spanMedian(AnnKey, tr))
    l.put("corpus.first_call_ms", coldMs.getOrElse(PrepKey, 0.0))
    l.put("ann.first_call_ms", coldMs.getOrElse(AnnKey, 0.0))
  }
}

object CorpusPipeline {
  val PrepKey = "corpus_prep_e2e"
  val FuzzyKey = "dedup_fuzzy_e2e"
  val AnnKey = "sim_ann_hnsw_exact"
}
