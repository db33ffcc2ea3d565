package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class WeatherPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("bulk transform joins both shapes into one row per (location, date)") {
    val clean = WeatherPipeline.transform(spark, resource("/raw"))
    // Vilaflor: OM 3 days ∩ VC 2 days = 2; Las_Palmas: 3 ∩ 3 = 3
    assert(clean.count() == 5)
    val cols = clean.columns.toSet
    // OM-side fields, VC-side fields, derived partition keys all present
    assert(Set("island", "location_name", "date", "year", "month",
      "sunshine_duration", "weather_code", "cloudcover", "icon",
      "latitude", "latitude_vc", "timezone", "timezone_vc").subsetOf(cols))
    val vilaflor = clean.filter($"location_name" === "Vilaflor")
      .orderBy("date").collect()
    assert(vilaflor.length == 2)
    val r = vilaflor.head
    assert(r.getAs[java.sql.Date]("date").toString == "2021-01-01")
    assert(r.getAs[Long]("weather_code") == 51L)     // OM side
    assert(r.getAs[Double]("cloudcover") == 60.8)    // VC side
    assert(r.getAs[Int]("year") == 2021 && r.getAs[Int]("month") == 1)
    assert(r.getAs[String]("island") == "Tenerife")
  }

  test("the declared raw schemas equal what JSON inference returns, field order included") {
    def inferred(glob: String) =
      spark.read.option("multiLine", true).json(resource("/raw") + glob).schema
    assert(WeatherPipeline.OpenMeteoSchema == inferred("/*/*/2*.json"))
    assert(WeatherPipeline.VisualCrossingSchema == inferred("/*/*/vc*.json"))
  }

  /** A copy of the raw fixtures with `file` rewritten by `edit`; returns
    * the copy's root and the rewritten file's path. */
  private def brokenRawZone(file: String, edit: String => String): (String, String) = {
    import scala.jdk.CollectionConverters._
    val src = java.nio.file.Paths.get(resource("/raw"))
    val dst = Files.createTempDirectory("raw_broken")
    val walk = Files.walk(src)
    try walk.iterator().asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    } finally walk.close()
    val bad = dst.resolve(file)
    Files.writeString(bad, edit(Files.readString(bad)))
    (dst.toString, bad.toString)
  }

  test("a raw file that breaks its declared schema fails the read, naming the file") {
    val cases = Seq[(String, String => String)](
      "Tenerife/Vilaflor/vc2021-01-01-to-2021-01-03.json" ->
        (_.replace("\"uvindex\": 4.0", "\"uvindex\": \"high\"")),
      "Tenerife/Vilaflor/2021-01-01-to-2021-01-03.json" ->
        (s => s.take(s.length / 2)))
    cases.foreach { case (file, edit) =>
      val (raw, bad) = brokenRawZone(file, edit)
      assert(Files.readString(java.nio.file.Paths.get(bad)) !=
        Files.readString(java.nio.file.Paths.get(resource(s"/raw/$file"))))
      val e = intercept[org.apache.spark.SparkException] {
        WeatherPipeline.transform(spark, raw).count()
      }
      assert(e.getMessage.contains("FAILED_READ_FILE") && e.getMessage.contains(bad),
        e.getMessage)
    }
  }

  test("bulk run writes hive-partitioned parquet; re-run is idempotent") {
    val out = Files.createTempDirectory("clean").toFile.getAbsolutePath
    WeatherPipeline.run(spark, resource("/raw"), out)
    WeatherPipeline.run(spark, resource("/raw"), out) // idempotent overwrite
    val back = spark.read.parquet(out)
    assert(back.count() == 5)
    assert(new java.io.File(
      s"$out/island=Tenerife/location_name=Vilaflor/year=2021/month=1").exists())
    // partition pruning actually prunes: one location predicate → 1 of 2
    // location directories scanned
    val pruned = back.filter($"location_name" === "Vilaflor")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().head
    assert(pruned.count() == 2)
    assert(scan.toString.contains("PartitionFilters"))
  }

  test("incremental merge: updated day wins, new day appended, others intact") {
    val out = Files.createTempDirectory("clean_inc").toFile.getAbsolutePath
    WeatherPipeline.run(spark, resource("/raw"), out)
    // build an "updates" raw zone: Vilaflor gets a corrected 2021-01-02
    // (VC now covers day 3 too) — write shape files into a temp raw dir
    val upd = Files.createTempDirectory("raw_upd").toFile.getAbsolutePath
    val dir = new java.io.File(s"$upd/Tenerife/Vilaflor"); dir.mkdirs()
    val om = """{"location":"Tenerife/Vilaflor","latitude":28.1562,"longitude":-16.6359,
      "elevation":1387.0,"timezone":"Atlantic/Canary","daily":{
      "date":["2021-01-02","2021-01-03"],"weather_code":[99,63],
      "temperature_2m_max":[14.0,11.9],"temperature_2m_min":[7.0,5.5],
      "sunshine_duration":[10000.0,14400.0],"precipitation_sum":[5.0,2.1]}}"""
    val vc = """{"queryCost":2,"latitude":28.1562,"longitude":-16.6359,
      "resolvedAddress":"x","address":"x","timezone":"Atlantic/Canary","tzoffset":0.0,
      "days":[{"datetime":"2021-01-02","cloudcover":90.0,"visibility":5.0,
      "solarradiation":40.0,"solarenergy":3.0,"uvindex":1.0,"moonphase":0.62,
      "conditions":"Storm","description":"Stormy.","icon":"rain"},
      {"datetime":"2021-01-03","cloudcover":70.0,"visibility":7.0,
      "solarradiation":50.0,"solarenergy":4.0,"uvindex":2.0,"moonphase":0.66,
      "conditions":"Rain","description":"Rainy.","icon":"rain"}]}"""
    Files.writeString(new java.io.File(dir, "2021-02-01.json").toPath, om)
    Files.writeString(new java.io.File(dir, "vc2021-02-01.json").toPath, vc)

    WeatherPipeline.incremental(spark, upd, out)

    val back = spark.read.parquet(out)
    assert(back.count() == 6) // 5 + 1 new (Vilaflor day 3)
    val d2 = back.filter($"location_name" === "Vilaflor" &&
      $"date" === java.sql.Date.valueOf("2021-01-02")).collect()
    assert(d2.length == 1)
    assert(d2.head.getAs[Long]("weather_code") == 99L)   // batch won
    assert(d2.head.getAs[Double]("cloudcover") == 90.0)
    // Las_Palmas untouched
    assert(back.filter($"location_name" === "Las_Palmas_de_Gran_Canaria").count() == 3)
  }
}
