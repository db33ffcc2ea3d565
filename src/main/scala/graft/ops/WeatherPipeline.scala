package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's bulk transform job (README.md:595-760) as ONE Spark
  * plan instead of a driver loop.
  *
  * Reference shape: discover (island, location) pairs with collect(), loop
  * in Python, per location build two frames, join, write — every iteration
  * pays scheduler + scan overhead, and the per-file arrays are zipped on
  * the driver. Here the location dimension never leaves the data: both
  * shapes are read with one glob each, partition keys come from
  * `input_file_name`, the unzip happens in-plan, and there is a single
  * partitioned write. On a 1000-executor cluster this is the difference
  * between 14 sequential jobs and one fully parallel one.
  *
  * The two raw shapes are read with the declared [[OpenMeteoSchema]] and
  * [[VisualCrossingSchema]], not inferred: each file is parsed once, and
  * the schemas are the clean table's contract. A raw file that breaks
  * them fails the read naming the file (see `Readers.jsonMultiLine`),
  * and a new daily variable becomes a column only once a field is added
  * to `OpenMeteoSchema`.
  */
object WeatherPipeline {

  /** Open-Meteo raw shape: scalars plus `daily`, a struct of parallel
    * arrays. Identical to what JSON inference returns for these files,
    * field order included: inference sorts the fields of `daily`
    * alphabetically, and `Flatten.unzipParallelArrays` carries that order
    * into the clean table's columns. */
  val OpenMeteoSchema: StructType = new StructType()
    .add("daily", new StructType()
      .add("date", ArrayType(StringType))
      .add("precipitation_sum", ArrayType(DoubleType))
      .add("sunshine_duration", ArrayType(DoubleType))
      .add("temperature_2m_max", ArrayType(DoubleType))
      .add("temperature_2m_min", ArrayType(DoubleType))
      .add("weather_code", ArrayType(LongType)))
    .add("elevation", DoubleType)
    .add("latitude", DoubleType)
    .add("location", StringType)
    .add("longitude", DoubleType)
    .add("timezone", StringType)

  /** Visual Crossing raw shape: scalars plus `days`, an array of structs.
    * Identical to what JSON inference returns for these files. */
  val VisualCrossingSchema: StructType = new StructType()
    .add("address", StringType)
    .add("days", ArrayType(new StructType()
      .add("cloudcover", DoubleType)
      .add("conditions", StringType)
      .add("datetime", StringType)
      .add("description", StringType)
      .add("icon", StringType)
      .add("moonphase", DoubleType)
      .add("solarenergy", DoubleType)
      .add("solarradiation", DoubleType)
      .add("uvindex", DoubleType)
      .add("visibility", DoubleType)))
    .add("latitude", DoubleType)
    .add("longitude", DoubleType)
    .add("queryCost", LongType)
    .add("resolvedAddress", StringType)
    .add("timezone", StringType)
    .add("tzoffset", DoubleType)

  /** Flatten an Open-Meteo-shaped frame (struct of parallel arrays,
    * reference README.md:548-551) to one row per (location, date). */
  def flattenOpenMeteo(raw: DataFrame): DataFrame = {
    val scalars = Seq(
      "island" -> "island", "location_name" -> "location_name",
      "location" -> "location", "latitude" -> "latitude",
      "longitude" -> "longitude", "elevation" -> "elevation",
      "timezone" -> "timezone")
    Flatten.unzipParallelArrays(raw, "daily", scalars)
  }

  /** Flatten a Visual-Crossing-shaped frame (array of structs, reference
    * README.md:556-589) to one row per (location, date). */
  def flattenVisualCrossing(raw: DataFrame): DataFrame = {
    val scalars = Seq(
      "island" -> "island", "location_name" -> "location_name",
      "latitude" -> "latitude", "longitude" -> "longitude",
      "timezone" -> "timezone")
    val dayFields = Seq(
      "datetime" -> "date", "cloudcover" -> "cloudcover",
      "visibility" -> "visibility", "solarradiation" -> "solarradiation",
      "solarenergy" -> "solarenergy", "uvindex" -> "uvindex",
      "moonphase" -> "moonphase", "conditions" -> "conditions",
      "description" -> "description", "icon" -> "icon")
    Flatten.explodeStructs(raw, "days", scalars, dayFields)
  }

  /** Read both raw shapes with their declared schemas (filename-prefix
    * dispatch, reference README.md:638, 672), flatten, join on exact
    * string keys (NOT the reference's float-coordinate keys — hazard
    * SURVEY.md §4.6), derive partition columns.
    */
  def transform(spark: SparkSession, rawDir: String): DataFrame = {
    val om = Readers.withPathMeta(Readers.jsonMultiLine(
      spark, s"$rawDir/*/*/2*.json", Some(OpenMeteoSchema))).drop("file_path")
    val vc = Readers.withPathMeta(Readers.jsonMultiLine(
      spark, s"$rawDir/*/*/vc*.json", Some(VisualCrossingSchema))).drop("file_path")

    val omFlat = flattenOpenMeteo(om)
    val vcFlat0 = flattenVisualCrossing(vc)
    val keys = Seq("location_name", "date")
    // duplicate non-key columns (island, latitude, longitude, timezone)
    // get a _vc suffix instead of silently ambiguous names
    val vcFlat = Joins.renameCollisions(omFlat, vcFlat0, keys, "_vc")

    omFlat.join(vcFlat, keys, "inner")
      .withColumn("date", to_date(col("date")))
      .withColumn("year", year(col("date")))
      .withColumn("month", month(col("date")))
  }

  /** Full bulk job: transform + idempotent partitioned write (overwrite,
    * not the reference's duplicate-prone append — hazard SURVEY.md §4.5).
    */
  def run(spark: SparkSession, rawDir: String, outDir: String): DataFrame = {
    val clean = transform(spark, rawDir)
    Upsert.writePartitioned(clean, outDir,
      Seq("island", "location_name", "year", "month"))
    clean
  }

  /** Incremental update (reference README.md:1221-1555): merge a
    * last-N-days batch into the clean table, new rows winning on
    * (location_name, date), rewriting only affected partitions.
    */
  def incremental(spark: SparkSession, rawUpdatesDir: String, outDir: String): Unit = {
    val batch = transform(spark, rawUpdatesDir)
    Upsert.upsertIntoPath(spark, outDir, batch,
      keys = Seq("location_name", "date"),
      partitionCols = Seq("island", "location_name", "year", "month"))
  }
}
