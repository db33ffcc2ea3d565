package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Source-side utilities (SURVEY.md §2.1). */
object Readers {

  /** One-JSON-object-per-file scan (reference README.md:621, 640, 674).
    * Explicit schema wins at scale: inference reads every file twice and
    * samples on the executor; a declared StructType makes the scan
    * single-pass and the plan deterministic.
    *
    * A declared schema is a contract, so it is read in `FAILFAST` mode: a
    * file that is not valid JSON, or whose value cannot take its declared
    * type, fails the read with `FAILED_READ_FILE` naming the file instead
    * of becoming a row of NULLs. Callers that want to quarantine such
    * files use [[jsonMultiLineTolerant]].
    */
  def jsonMultiLine(spark: SparkSession, path: String,
      schema: Option[StructType] = None): DataFrame = {
    val r = spark.read.option("multiLine", true)
    schema.fold(r)(s => r.schema(s).option("mode", "FAILFAST")).json(path)
  }

  /** Whole-file binary scan: one row per file with (path, length,
    * modificationTime, content) — the ingestion shape for media and
    * document blobs before any decode (pairs with
    * `MultimodalOps.decodeWith`). `pathGlobFilter` prunes at FILE
    * LISTING time, before any bytes are read. Scale note: each file
    * becomes one task and must fit in executor memory whole — right for
    * many small/medium blobs, wrong for multi-GB archives (split those
    * upstream or stream them via a custom DSV2 source). */
  def readBinaryFiles(spark: SparkSession, dir: String,
      glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(dir)

  /** File-path partition-key extraction (reference README.md:622-623:
    * `input_file_name()` + `regexp_extract`): derive `island` and
    * `location_name` from `.../{island}/{location}/{file}`. Stays in-plan —
    * no driver-side directory listing loop.
    */
  def withPathMeta(df: DataFrame,
      islandPattern: String = "^.*/([^/]+)/[^/]+/[^/]+$",
      locationPattern: String = "^.*/([^/]+)/[^/]+$"): DataFrame =
    df.withColumn("file_path", input_file_name())
      .withColumn("island", regexp_extract(col("file_path"), islandPattern, 1))
      .withColumn("location_name", regexp_extract(col("file_path"), locationPattern, 1))

  /** Tolerant JSON scan — the reference's per-location try/except
    * skip-and-log (README.md:667-669, 730-732) as data, not control flow:
    * malformed documents land in `_corrupt_record` instead of failing the
    * job (or silently skipping a location), so callers split good rows
    * from quarantined ones and the pipeline stays a single plan.
    */
  def jsonMultiLineTolerant(spark: SparkSession, path: String,
      schema: StructType): DataFrame =
    spark.read.option("multiLine", true)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema(schema.add("_corrupt_record", org.apache.spark.sql.types.StringType))
      .json(path)

  /** Tolerant JSON-LINES scan (the at-scale JSON shape: one record per
    * line, splittable files): malformed lines land in
    * `_corrupt_record` instead of failing the read — the NDJSON twin of
    * [[jsonMultiLineTolerant]]'s whole-file mode. Filter
    * `_corrupt_record IS NULL` for the clean stream and its complement
    * for the repair channel.
    *
    * Built as a text scan + `from_json` rather than the raw JSON file
    * source: the file source refuses any query whose referenced columns
    * prune down to only `_corrupt_record`
    * (QUERY_ONLY_CORRUPT_RECORD_COLUMN — e.g. a downstream `.count()`
    * after a `_corrupt_record IS NULL` filter), which makes the
    * quarantine split fragile for callers. Parsing through `from_json`
    * uses the same Jackson PERMISSIVE path (identical corrupt-record
    * semantics), stays whole-stage-codegen'd, and the text scan is just
    * as splittable. The blank-line filter mirrors the JSON source,
    * which skips whitespace-only lines. */
  def jsonLinesTolerant(spark: SparkSession, path: String,
      schema: StructType): DataFrame = {
    val full = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val opts = Map(
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
      .select(from_json(col("value"), full, opts).as("r"))
      .select(col("r.*"))
  }

  /** Tolerant CSV ingest with quarantine — the CSV twin of
    * [[jsonLinesTolerant]]: rows whose fields fail the explicit schema
    * (unparseable numerics, wrong column count) land with their raw
    * line in `_corrupt_record` instead of failing the job; a
    * `_corrupt_record IS NULL` filter is the clean/quarantine split.
    *
    * Parsed through `from_csv` over a text scan for the same reason
    * the JSON twin is: the native csv reader's corrupt column hits
    * QUERY_ONLY_CORRUPT_RECORD_COLUMN the moment a downstream query
    * prunes to just `_corrupt_record` (e.g. counting the quarantine) —
    * measured, the restriction applies to CSV exactly as to JSON.
    * `from_csv` uses the same univocity PERMISSIVE path, identical
    * corrupt semantics, and the text scan stays splittable.
    *
    * With `header = true` (production CSV drops have one, and shards
    * written by Spark carry one EACH), header lines are dropped by
    * exact text match against the schema's field-name line — a data
    * row bit-identical to the header is indistinguishable from one
    * and is dropped too (the standard concatenated-shard ambiguity). */
  def csvTolerant(spark: SparkSession, path: String,
      schema: StructType, header: Boolean = true): DataFrame = {
    val full = schema.add("_corrupt_record", org.apache.spark.sql.types.StringType)
    val opts = Map(
      "mode" -> "PERMISSIVE",
      "columnNameOfCorruptRecord" -> "_corrupt_record")
    val lines = spark.read.text(path)
      .filter(length(trim(col("value"))) > 0)
    val body =
      if (header) lines.filter(col("value") =!= schema.fieldNames.mkString(","))
      else lines
    body.select(from_csv(col("value"), full, opts).as("r"))
      .select(col("r.*"))
  }

  /** Bootstrap an empty frame with an explicit schema (reference
    * README.md:1266-1282 creates a minimal empty table when the target is
    * missing).
    */
  def emptyBootstrap(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
}
