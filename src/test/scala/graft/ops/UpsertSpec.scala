package graft.ops

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.SparkSpec

class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    ("loc1", "2021-01-01", 10.0), ("loc1", "2021-01-02", 11.0),
    ("loc2", "2021-01-01", 20.0), ("loc2", "2021-01-02", 21.0)
  ).toDF("location", "date", "temp")

  private def batch = Seq(
    ("loc1", "2021-01-02", 99.0), // supersedes
    ("loc1", "2021-01-03", 12.0)  // new
  ).toDF("location", "date", "temp")

  test("merge: batch wins on key overlap, non-overlapping rows survive") {
    val merged = Upsert.merge(target, batch, Seq("location", "date"))
    val m = merged.as[(String, String, Double)].collect().toSet
    assert(m == Set(
      ("loc1", "2021-01-01", 10.0), ("loc1", "2021-01-02", 99.0),
      ("loc1", "2021-01-03", 12.0),
      ("loc2", "2021-01-01", 20.0), ("loc2", "2021-01-02", 21.0)))
  }

  test("merge is idempotent: applying the same batch twice is a no-op") {
    val once = Upsert.merge(target, batch, Seq("location", "date"))
    val twice = Upsert.merge(once, batch, Seq("location", "date"))
    assert(once.as[(String, String, Double)].collect().toSet ==
      twice.as[(String, String, Double)].collect().toSet)
  }

  test("merge with duplicate batch keys does not multiply surviving target rows") {
    val dupBatch = batch.union(batch) // same keys twice
    val merged = Upsert.merge(target, dupBatch, Seq("location", "date"))
    // target-surviving rows appear exactly once (keyOnly is distinct'd)
    assert(merged.filter($"location" === "loc2").count() == 2)
  }

  test("applyChanges: I/U/D with last-writer-wins, idempotent, unknown op raises") {
    val target = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val changes = Seq(
      (2L, "b2", "U", 1L),           // plain update
      (3L, null, "D", 1L),           // delete
      (4L, "d", "I", 1L),            // insert
      (5L, "e1", "U", 1L),           // conflict: update then delete …
      (5L, null, "D", 2L))           // … highest seq wins → net delete
      .toDF("k", "v", "op", "seq")
    val out = Upsert.applyChanges(target, changes, Seq("k"))
      .select($"k", $"v").as[(Long, Option[String])].collect().toSet
    assert(out == Set((1L, Some("a")), (2L, Some("b2")), (4L, Some("d"))))
    // idempotent: the changed keys' final state is fully determined by
    // the batch, so re-applying it is a no-op
    val once = Upsert.applyChanges(target, changes, Seq("k"))
    val twice = Upsert.applyChanges(once, changes, Seq("k"))
      .select($"k", $"v").as[(Long, Option[String])].collect().toSet
    assert(twice == out)
    // an op outside I/U/D must fail the job, not ghost-delete the key
    val bad = Seq((1L, "x", "QQ", 1L)).toDF("k", "v", "op", "seq")
    val e = intercept[Exception] {
      Upsert.applyChanges(target, bad, Seq("k")).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    assert(msgs(e).exists(_.contains("unknown op")), msgs(e).mkString("|"))
  }

  test("merge and applyChanges treat NULL keys null-safely (no silent duplication)") {
    val target = Seq((Some(1L), "a"), (None: Option[Long], "old")).toDF("k", "v")
    // merge: the null-keyed batch row must REPLACE the null-keyed target row
    val batch = Seq((None: Option[Long], "new")).toDF("k", "v")
    val merged = Upsert.merge(target, batch, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(merged == Set((Some(1L), "a"), (None, "new")), merged.toString)
    // applyChanges: null-key update replaces; null-key delete removes
    val upd = Seq((None: Option[Long], "upd", "U", 1L)).toDF("k", "v", "op", "seq")
    val afterU = Upsert.applyChanges(target, upd, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(afterU == Set((Some(1L), "a"), (None, "upd")), afterU.toString)
    val del = Seq((None: Option[Long], null: String, "D", 1L)).toDF("k", "v", "op", "seq")
    val afterD = Upsert.applyChanges(target, del, Seq("k"))
      .as[(Option[Long], String)].collect().toSet
    assert(afterD == Set((Some(1L), "a")), afterD.toString)
  }

  test("upsertIntoPath rewrites only affected partitions") {
    val dir = Files.createTempDirectory("upsert").toFile.getAbsolutePath
    Upsert.writePartitioned(target, dir, Seq("location"))
    val loc2Before = new java.io.File(s"$dir/location=loc2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet

    Upsert.upsertIntoPath(spark, dir, batch, Seq("location", "date"), Seq("location"))

    val after = spark.read.parquet(dir)
      .select($"location", $"date", $"temp")
      .as[(String, String, Double)].collect().toSet
    assert(after == Set(
      ("loc1", "2021-01-01", 10.0), ("loc1", "2021-01-02", 99.0),
      ("loc1", "2021-01-03", 12.0),
      ("loc2", "2021-01-01", 20.0), ("loc2", "2021-01-02", 21.0)))
    // untouched partition files byte-identical (same files, same mtimes)
    val loc2After = new java.io.File(s"$dir/location=loc2").listFiles()
      .filter(_.getName.endsWith(".parquet")).map(f => (f.getName, f.lastModified)).toSet
    assert(loc2Before == loc2After)
  }

  test("upsertIntoPath with keysMayChangePartitions rewrites the key's old partition") {
    // the batch MOVES key ("k1","2021-01-01") from partition loc1 to loc2
    // (a corrected partition value for an existing merge key)
    val dir = Files.createTempDirectory("upsert_move").toFile.getAbsolutePath
    val t0 = Seq(("k1", "2021-01-01", "loc1", 10.0), ("k2", "2021-01-01", "loc2", 20.0))
      .toDF("name", "date", "location", "temp")
    Upsert.writePartitioned(t0, dir, Seq("location"))
    val moved = Seq(("k1", "2021-01-01", "loc2", 99.0))
      .toDF("name", "date", "location", "temp")

    // default mode documents the functional-dependence invariant; violating
    // it leaves the stale row behind (demonstrating why the flag exists)
    val dirA = Files.createTempDirectory("upsert_move_a").toFile.getAbsolutePath
    Upsert.writePartitioned(t0, dirA, Seq("location"))
    Upsert.upsertIntoPath(spark, dirA, moved, Seq("name", "date"), Seq("location"))
    assert(spark.read.parquet(dirA).filter($"name" === "k1").count() == 2)

    Upsert.upsertIntoPath(spark, dir, moved, Seq("name", "date"), Seq("location"),
      keysMayChangePartitions = true)
    val after = spark.read.parquet(dir)
      .select($"name", $"date", $"location", $"temp")
      .as[(String, String, String, Double)].collect().toSet
    assert(after == Set(
      ("k1", "2021-01-01", "loc2", 99.0), // moved, old-partition copy gone
      ("k2", "2021-01-01", "loc2", 20.0)))
  }

  test("keysMayChangePartitions handles NULL partition values null-safely") {
    // survivor case: k3 stays in the null partition while k2 moves out of
    // it — plain equi-join semantics would drop k3 (null never equals
    // null) and then delete its freshly rewritten directory
    val dir = Files.createTempDirectory("upsert_null").toFile.getAbsolutePath
    val t0 = Seq(
      ("k1", "d1", Some("locA"), 1.0),
      ("k2", "d1", None: Option[String], 2.0),
      ("k3", "d1", None: Option[String], 3.0))
      .toDF("name", "date", "location", "temp")
    Upsert.writePartitioned(t0, dir, Seq("location"))
    val batch = Seq(("k2", "d1", Some("locB"), 22.0))
      .toDF("name", "date", "location", "temp")
    Upsert.upsertIntoPath(spark, dir, batch, Seq("name", "date"), Seq("location"),
      keysMayChangePartitions = true)
    val after = spark.read.parquet(dir)
      .select($"name", $"location", $"temp")
      .as[(String, Option[String], Double)].collect().toSet
    assert(after == Set(
      ("k1", Some("locA"), 1.0),
      ("k2", Some("locB"), 22.0),
      ("k3", None, 3.0)))

    // emptied case: the null partition's only key moves out — the
    // __HIVE_DEFAULT_PARTITION__ directory must be deleted
    val dir2 = Files.createTempDirectory("upsert_null2").toFile.getAbsolutePath
    val t1 = Seq(("k1", "d1", Some("locA"), 1.0), ("k2", "d1", None: Option[String], 2.0))
      .toDF("name", "date", "location", "temp")
    Upsert.writePartitioned(t1, dir2, Seq("location"))
    Upsert.upsertIntoPath(spark, dir2, batch, Seq("name", "date"), Seq("location"),
      keysMayChangePartitions = true)
    val after2 = spark.read.parquet(dir2)
      .select($"name", $"location", $"temp")
      .as[(String, Option[String], Double)].collect().toSet
    assert(after2 == Set(("k1", Some("locA"), 1.0), ("k2", Some("locB"), 22.0)))
    assert(!new java.io.File(s"$dir2/location=__HIVE_DEFAULT_PARTITION__").exists(),
      "emptied null-partition directory must be removed")
  }

  /** Every file under `dir` (relative path → size, mtime, content hash):
    * equal maps mean the files are byte-identical and were not rewritten. */
  private def fileStamps(dir: String): Map[String, (Long, Long, Int)] = {
    import scala.jdk.CollectionConverters._
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(Files.isRegularFile(_)).map { p =>
      root.relativize(p).toString ->
        ((Files.size(p), Files.getLastModifiedTime(p).toMillis,
          java.util.Arrays.hashCode(Files.readAllBytes(p))))
    }.toMap
    finally walk.close()
  }

  /** Runs `body` and returns the file scans over `dir` or its partition
    * directories that the actions it ran executed (the
    * execution-listener bus delivers async). */
  private def scansOf(dir: String)(body: => Unit)
      : Seq[org.apache.spark.sql.execution.FileSourceScanExec] = {
    import org.apache.spark.sql.execution._
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
        plans.add(qe.executedPlan); ()
      }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      var last = -1; var tries = 0
      while (plans.size != last && tries < 50) {
        last = plans.size; Thread.sleep(100); tries += 1
      }
    } finally spark.listenerManager.unregister(listener)
    def flatten(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => flatten(a.executedPlan)
      case q: QueryStageExec => q +: flatten(q.plan)
      case c: CommandResultExec => c +: flatten(c.commandPhysicalPlan)
      case other => other +: other.children.flatMap(flatten)
    }
    import scala.jdk.CollectionConverters._
    plans.asScala.toSeq.flatMap(flatten).collect {
      case s: FileSourceScanExec if rootsOf(s).exists(p => p == dir || p.startsWith(dir + "/")) => s
    }
  }

  private def rootsOf(s: org.apache.spark.sql.execution.FileSourceScanExec): Set[String] =
    s.relation.location.rootPaths.map(_.toUri.getPath.stripSuffix("/")).toSet

  test("upsertIntoPath reads only the batch's partitions of the target") {
    // 20 partitions over two levels, one level NULL in four of them; the
    // batch touches 12 existing partitions (NULL ones included) and opens
    // one new partition
    val dir = Files.createTempDirectory("upsert_pruned").toFile.getAbsolutePath
    val gs = Seq(Some("a"), Some("b"), Some("c"), Some("d"), None)
    val rows = for (g <- gs; n <- 1 to 4; i <- 0 to 1)
      yield (s"${g.getOrElse("null")}-$n-$i", g, n, i.toDouble)
    Upsert.writePartitioned(rows.toDF("k", "g", "n", "v"), dir, Seq("g", "n"))
    val touched = (for (g <- gs; n <- 1 to 4) yield (g, n)).filter {
      case (g, n) => g.isEmpty || n <= 2 || g.contains("d")
    }.take(12)
    assert(touched.length == 12 && touched.exists(_._1.isEmpty))
    val batch = (touched.map { case (g, n) => (s"${g.getOrElse("null")}-$n-0", g, n, 100.0) } :+
      (("e-1-0", Some("e"), 1, 7.0))).toDF("k", "g", "n", "v")
    def partDir(g: Option[String], n: Int) =
      s"$dir/g=${g.getOrElse("__HIVE_DEFAULT_PARTITION__")}/n=$n"
    val untouched = (for (g <- gs; n <- 1 to 4) yield (g, n)).filterNot(touched.contains)
    val before = untouched.map { case (g, n) => fileStamps(partDir(g, n)) }

    val scans = scansOf(dir) {
      Upsert.upsertIntoPath(spark, dir, batch, Seq("k"), Seq("g", "n"))
    }
    assert(scans.nonEmpty, "the upsert ran no file scan over the target")
    scans.foreach { s =>
      assert(rootsOf(s) == touched.map { case (g, n) => partDir(g, n) }.toSet,
        s"target scan is not rooted at exactly the batch's 12 partition directories: $s")
      assert(s.metrics("numPartitions").value == 12,
        s"target scan read ${s.metrics("numPartitions").value} partitions, not the batch's 12")
    }
    val superseded = touched.map { case (g, n) => s"${g.getOrElse("null")}-$n-0" }.toSet
    val expected = rows.filterNot(r => superseded.contains(r._1)).toSet ++
      batch.as[(String, Option[String], Int, Double)].collect()
    val after = spark.read.parquet(dir).select($"k", $"g", $"n", $"v")
      .as[(String, Option[String], Int, Double)].collect()
    assert(after.length == expected.size && after.toSet == expected)
    assert(untouched.map { case (g, n) => fileStamps(partDir(g, n)) } == before,
      "an untouched partition was rewritten")
  }

  test("upsertIntoPath with only new partitions runs no scan of the target") {
    val dir = Files.createTempDirectory("upsert_new_only").toFile.getAbsolutePath
    Upsert.writePartitioned(target, dir, Seq("location"))
    val before = fileStamps(dir)
    val fresh = Seq(("loc3", "2021-01-01", 30.0), ("loc4", "2021-01-01", 40.0))
      .toDF("location", "date", "temp")
    val scans = scansOf(dir) {
      Upsert.upsertIntoPath(spark, dir, fresh, Seq("location", "date"), Seq("location"))
    }
    assert(scans.isEmpty, s"the upsert scanned the target: $scans")
    val after = spark.read.parquet(dir).select($"location", $"date", $"temp")
      .as[(String, String, Double)].collect()
    assert(after.toSet == (target.as[(String, String, Double)].collect() ++
      fresh.as[(String, String, Double)].collect()).toSet && after.length == 6)
    val now = fileStamps(dir)
    assert(before.filter(_._1.startsWith("location=")).forall { case (f, v) =>
      now.get(f).contains(v) }, "an existing partition was rewritten")
  }

  test("upsertIntoPath keeps a zero-padded string partition value") {
    val dir = Files.createTempDirectory("upsert_padded").toFile.getAbsolutePath
    Upsert.writePartitioned(
      Seq(("k1", "007", 1.0), ("k2", "007", 2.0)).toDF("name", "code", "temp"),
      dir, Seq("code"))
    Upsert.upsertIntoPath(spark, dir,
      Seq(("k1", "007", 10.0)).toDF("name", "code", "temp"), Seq("name"), Seq("code"))
    val after = spark.read.parquet(s"$dir/code=007")
      .select($"name", $"temp").as[(String, Double)].collect()
    assert(after.toSet == Set(("k1", 10.0), ("k2", 2.0)) && after.length == 2, after.toSeq)
    assert(!new java.io.File(s"$dir/code=7").exists(), "the upsert wrote a code=7 partition")
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("upsertIntoPath rewrites the NULL partition and keeps its non-superseded rows") {
    val dir = Files.createTempDirectory("upsert_nullpart").toFile.getAbsolutePath
    val t0 = Seq(
      ("k1", Some("locA"), 1.0),
      ("k2", None: Option[String], 2.0),
      ("k3", None: Option[String], 3.0))
      .toDF("name", "location", "temp")
    Upsert.writePartitioned(t0, dir, Seq("location"))
    val locABefore = fileStamps(s"$dir/location=locA")
    val nullDir = s"$dir/location=__HIVE_DEFAULT_PARTITION__"
    val nullBefore = fileStamps(nullDir)
    Upsert.upsertIntoPath(spark, dir,
      Seq(("k2", None: Option[String], 22.0)).toDF("name", "location", "temp"),
      Seq("name"), Seq("location"))
    val after = spark.read.parquet(dir).select($"name", $"location", $"temp")
      .as[(String, Option[String], Double)].collect()
    assert(after.toSet == Set(
      ("k1", Some("locA"), 1.0), ("k2", None, 22.0), ("k3", None, 3.0)) &&
      after.length == 3, after.toSeq)
    assert(fileStamps(nullDir) != nullBefore, "the NULL partition was not rewritten")
    assert(fileStamps(s"$dir/location=locA") == locABefore)
  }

  test("upsertIntoPath with an empty batch leaves every file byte-identical") {
    val dir = Files.createTempDirectory("upsert_empty").toFile.getAbsolutePath
    Upsert.writePartitioned(target, dir, Seq("location"))
    val before = fileStamps(dir)
    Upsert.upsertIntoPath(spark, dir, batch.limit(0), Seq("location", "date"), Seq("location"))
    assert(fileStamps(dir) == before)
  }

  test("upsertIntoPath matches numeric-looking partition values the target infers as int") {
    val dir = Files.createTempDirectory("upsert_numeric").toFile.getAbsolutePath
    Upsert.writePartitioned(
      Seq(("k1", "7", 1.0), ("k2", "7", 2.0), ("k3", "12", 3.0)).toDF("name", "code", "temp"),
      dir, Seq("code"))
    assert(spark.read.parquet(dir).schema("code").dataType ==
      org.apache.spark.sql.types.IntegerType)
    val twelveBefore = fileStamps(s"$dir/code=12")
    Upsert.upsertIntoPath(spark, dir,
      Seq(("k1", "7", 10.0)).toDF("name", "code", "temp"), Seq("name"), Seq("code"))
    val after = spark.read.parquet(dir).select($"name", $"code", $"temp")
      .as[(String, Int, Double)].collect()
    // k2 survives: a missed match would rewrite code=7 with the batch alone
    assert(after.toSet == Set(("k1", 7, 10.0), ("k2", 7, 2.0), ("k3", 12, 3.0)) &&
      after.length == 3, after.toSeq)
    assert(fileStamps(s"$dir/code=12") == twelveBefore)
  }

  test("writes and upserts leave the session conf unchanged; the overwrite mode is per write") {
    val key = "spark.sql.sources.partitionOverwriteMode"
    val confBefore = spark.conf.getAll
    val modeBefore = spark.conf.getOption(key)
    val dir = Files.createTempDirectory("upsert_conf").toFile.getAbsolutePath
    Upsert.writePartitioned(target, dir, Seq("location"))
    assert(spark.conf.getOption(key) == modeBefore)
    Upsert.writePartitioned(batch, dir, Seq("location"), dynamicOverwrite = false)
    assert(spark.conf.getOption(key) == modeBefore)
    Upsert.upsertIntoPath(spark, dir, batch, Seq("location", "date"), Seq("location"))
    Upsert.upsertIntoPath(spark, dir, batch, Seq("location", "date"), Seq("location"),
      keysMayChangePartitions = true)
    assert(spark.conf.getAll == confBefore)
    // the write's own mode wins over the session's, both ways
    val s2 = spark.newSession()
    s2.conf.set(key, "static")
    val dir2 = Files.createTempDirectory("upsert_conf2").toFile.getAbsolutePath
    Upsert.writePartitioned(s2.createDataFrame(target.rdd, target.schema),
      dir2, Seq("location"))
    Upsert.writePartitioned(s2.createDataFrame(batch.rdd, batch.schema),
      dir2, Seq("location"))
    // dynamic: loc1 becomes the batch's 2 rows, loc2 keeps its 2
    assert(s2.read.parquet(dir2).count() == 4, "dynamic write replaced the whole table")
    s2.conf.set(key, "dynamic")
    Upsert.writePartitioned(s2.createDataFrame(batch.rdd, batch.schema),
      dir2, Seq("location"), dynamicOverwrite = false)
    assert(s2.read.parquet(dir2).count() == 2, "static write kept untouched partitions")
  }

  test("compactPartitions merges small files, leaves healthy partitions byte-identical") {
    val dir = java.nio.file.Files.createTempDirectory("compact").toFile.getAbsolutePath
    // partition g=a: 8 tiny files (fragmented by an artificial repartition);
    // partition g=b: 1 file (healthy — must not be rewritten)
    val a = (1 to 400).map(i => ("a", i.toLong, s"payload_$i")).toDF("g", "id", "v")
    val b = (1 to 400).map(i => ("b", i.toLong, s"payload_$i")).toDF("g", "id", "v")
    Upsert.writePartitioned(a.repartition(8), dir, Seq("g"))
    Upsert.writePartitioned(b.coalesce(1), dir, Seq("g"),
      mode = org.apache.spark.sql.SaveMode.Append)
    def files(p: String) = Option(new java.io.File(dir, p).listFiles).toSeq.flatten
      .filter(f => f.getName.endsWith(".parquet")).sortBy(_.getName)
    assert(files("g=a").length == 8 && files("g=b").length == 1)
    val bBytesBefore = files("g=b").map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap

    val stats = Upsert.compactPartitions(spark, dir, Seq("g"),
      targetFileBytes = 512L * 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(stats.partitionsCompacted == 1, stats.toString)
    assert(files("g=a").length == 1, s"expected 1 compacted file, got ${files("g=a").length}")
    // healthy partition untouched, byte for byte
    val bBytesAfter = files("g=b").map(f =>
      f.getName -> java.nio.file.Files.readAllBytes(f.toPath).toSeq).toMap
    assert(bBytesAfter == bBytesBefore)
    // data identical after compaction
    val got = spark.read.parquet(dir).as[(Long, String, String)].collect().toSet
    val expected = (a.unionByName(b)).select($"id", $"v", $"g")
      .as[(Long, String, String)].collect().toSet
    assert(got == expected)
    // idempotent: a second pass finds nothing to do
    val again = Upsert.compactPartitions(spark, dir, Seq("g"),
      targetFileBytes = 512L * 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(again.partitionsCompacted == 0 && again.filesAfter == again.filesBefore)
  }

  test("compactPartitions converges with MANY fragmented partitions and null partition values") {
    // the re-fragmentation trap: a global repartition(n) would spread
    // every partition's rows across all n tasks, writing ~n files into
    // EVERY dir — compaction that un-compacts. Per-partition bucketing
    // must leave each dir with at most ceil(bytes/target) files.
    val dir = java.nio.file.Files.createTempDirectory("compact_many").toFile.getAbsolutePath
    val df = (0 until 6).flatMap { p =>
      val g = if (p == 5) None else Some(s"p$p") // one NULL partition
      (1 to 200).map(i => (g, i.toLong + p * 1000, s"v$i"))
    }.toDF("g", "id", "v")
    Upsert.writePartitioned(df.repartition(10), dir, Seq("g"))
    def leafFiles(name: String) = Option(new java.io.File(dir, name).listFiles)
      .toSeq.flatten.count(_.getName.endsWith(".parquet"))
    assert(leafFiles("g=p0") > 1 && leafFiles("g=__HIVE_DEFAULT_PARTITION__") > 1)

    val stats = Upsert.compactPartitions(spark, dir, Seq("g"),
      targetFileBytes = 512L * 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(stats.partitionsCompacted == 6, stats.toString)
    // each partition (including the null one) collapses to its own
    // per-partition target — 1 file here — instead of fanning out
    (0 until 5).foreach { p =>
      assert(leafFiles(s"g=p$p") == 1, s"g=p$p has ${leafFiles(s"g=p$p")} files")
    }
    assert(leafFiles("g=__HIVE_DEFAULT_PARTITION__") == 1)
    // data intact, including the null-partition rows
    val back = spark.read.parquet(dir)
    assert(back.count() == 1200)
    assert(back.filter($"g".isNull).count() == 200)
    // converged: nothing left to do
    val again = Upsert.compactPartitions(spark, dir, Seq("g"),
      targetFileBytes = 512L * 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(again.partitionsCompacted == 0)
  }

  test("compactPartitions path decoding matches Spark's partition inference exactly") {
    // The predOf filter compares values spark.read inferred from the
    // SAME dir names, so our decoder must agree with the engine's
    // byte-for-byte — including the per-char %XX semantics Spark uses
    // for multi-byte sequences (caf%C3%A9 → 'cafÃ©', NOT UTF-8 'café').
    // A "smarter" UTF-8 decode here would match zero rows and silently
    // never compact those partitions.
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    for (s <- Seq("caf%C3%A9", "%E6%9D%B1%E4%BA%AC", "a%3Ab", "p%2Fq%25r", "plain", "%", "%G1"))
      assert(Upsert.unescapePathSegment(s) == ExternalCatalogUtils.unescapePathName(s), s)

    // end-to-end with Hive-escaped ASCII values (this container's POSIX
    // locale cannot create non-ASCII paths, so exercise the escape
    // round-trip with chars Hive escapes: ':' '#' '=')
    val dir = java.nio.file.Files.createTempDirectory("compact_esc").toFile.getAbsolutePath
    val df = Seq("a:b", "c#d", "e=f").flatMap { g =>
      (1 to 120).map(i => (g, i.toLong, s"v$i"))
    }.toDF("g", "id", "v")
    Upsert.writePartitioned(df.repartition(6), dir, Seq("g"))
    val leafDirs = Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.startsWith("g="))
    assert(leafDirs.length == 3 && leafDirs.exists(_.getName.contains("%")),
      leafDirs.map(_.getName).mkString(","))
    assert(leafDirs.forall(d => d.listFiles.count(_.getName.endsWith(".parquet")) > 1))

    val stats = Upsert.compactPartitions(spark, dir, Seq("g"),
      targetFileBytes = 512L * 1024 * 1024, smallFileBytes = 1024 * 1024)
    assert(stats.partitionsCompacted == 3, stats.toString)
    leafDirs.foreach { d =>
      assert(d.listFiles.count(_.getName.endsWith(".parquet")) == 1,
        s"${d.getName} not compacted to one file")
    }
    val back = spark.read.parquet(dir)
    assert(back.count() == 360)
    assert(back.filter($"g" === "a:b").count() == 120)
    assert(back.filter($"g" === "e=f").count() == 120)
  }

  test("writePartitioned static overwrite replaces the whole table") {
    val dir = Files.createTempDirectory("static").toFile.getAbsolutePath
    Upsert.writePartitioned(target, dir, Seq("location"))
    Upsert.writePartitioned(batch, dir, Seq("location"), dynamicOverwrite = false)
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("scd2 builds validity chains and collapses no-op snapshots") {
    import spark.implicits._
    val log = Seq(
      // key 1: v1 at seq 10, no-op repeat at 20, real change at 30
      (1L, 10L, "A", Some(1.0)), (1L, 20L, "A", Some(1.0)), (1L, 30L, "B", Some(1.0)),
      // key 2: single snapshot
      (2L, 5L, "X", None),
      // key 3: NULL attr == NULL attr is a no-op; NULL -> value is a change
      (3L, 1L, "C", None), (3L, 2L, "C", None), (3L, 3L, "C", Some(9.0)))
      .toDF("k", "seq", "status", "score")
    val hist = Upsert.scd2(log, Seq("k"), "seq", Seq("status", "score"))
      .select($"k", $"valid_from", $"valid_to", $"is_current", $"status")
      .as[(Long, Long, Option[Long], Boolean, String)].collect().toSet
    assert(hist == Set(
      (1L, 10L, Some(30L), false, "A"), (1L, 30L, None, true, "B"),
      (2L, 5L, None, true, "X"),
      (3L, 1L, Some(3L), false, "C"), (3L, 3L, None, true, "C")))
    // exactly one current version per key
    val cur = Upsert.scd2(log, Seq("k"), "seq", Seq("status", "score"))
      .filter($"is_current").groupBy($"k").count()
      .as[(Long, Long)].collect().toMap
    assert(cur.values.forall(_ == 1L))
  }

  test("scd2 raises in-plan on duplicate (key, seq)") {
    import spark.implicits._
    val dup = Seq((1L, 10L, "A"), (1L, 10L, "B")).toDF("k", "seq", "status")
    def msgs(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ msgs(x.getCause))
    val e = intercept[Exception] {
      Upsert.scd2(dup, Seq("k"), "seq", Seq("status")).collect()
    }
    assert(msgs(e).exists(_.contains("scd2")), msgs(e).mkString("|"))
  }

  test("snapshotDiff classifies added/removed/changed; digests never ship row bodies") {
    import spark.implicits._
    val before = Seq(
      (1L, "a", Some(1.0)), (2L, "b", Some(2.0)),
      (3L, "c", None), (4L, "d", Some(4.0))).toDF("k", "s", "v")
    val after = Seq(
      (1L, "a", Some(1.0)),            // unchanged
      (2L, "b", Some(99.0)),           // changed value
      (3L, "c", Some(3.0)),            // NULL -> value is a change
      (5L, "e", Some(5.0)))            // added; 4 removed
      .toDF("k", "s", "v")
    val diff = Upsert.snapshotDiff(before, after, Seq("k"))
      .as[(Long, String)].collect().toSet
    assert(diff == Set((2L, "changed"), (3L, "changed"),
      (4L, "removed"), (5L, "added")))
    val all = Upsert.snapshotDiff(before, after, Seq("k"), includeUnchanged = true)
      .as[(Long, String)].collect().toSet
    assert(all.contains((1L, "unchanged")) && all.size == 5)
    // compareCols subset: restricting to the unchanged column hides the drift
    val only_s = Upsert.snapshotDiff(before, after, Seq("k"), compareCols = Seq("s"))
      .as[(Long, String)].collect().toSet
    assert(only_s == Set((4L, "removed"), (5L, "added")))
  }

  test("exportJsonl: hive layout, gzip shards within bound, lossless readback") {
    val dir = java.nio.file.Files.createTempDirectory("jsonl").toString
    val rows = (1L to 200L).map(i =>
      (i, if (i % 2 == 0) "en" else "de", s"line one of $i\nline two \"quoted\""))
      .toDF("id", "lang", "text")
    Upsert.exportJsonl(rows, dir, Seq("lang"), shardCol = "id",
      shardsPerPartition = 3)
    val dirs = new java.io.File(dir).listFiles().filter(_.isDirectory)
    assert(dirs.map(_.getName).sorted.toSeq == Seq("lang=de", "lang=en"))
    for (pd <- dirs) {
      val shards = pd.listFiles().filter(_.getName.endsWith(".json.gz"))
      assert(shards.nonEmpty && shards.length <= 3,
        s"${pd.getName}: ${shards.length} shards, bound 3")
    }
    // readback equality incl. newline + quote escaping through gzip
    val back = spark.read.schema("id BIGINT, text STRING, lang STRING")
      .json(dir)
      .select($"id", $"lang", $"text").as[(Long, String, String)]
      .collect().toSet
    assert(back == rows.as[(Long, String, String)].collect().toSet)
  }

  // --- stateAt ----------------------------------------------------------

  test("stateAt reconstructs every historical version from the log") {
    val log = Seq(
      (1L, "v0", "I", 0L), (1L, "v1", "U", 1L), (1L, null, "D", 2L),
      (2L, "w0", "I", 0L),
      (3L, "x1", "I", 1L)).toDF("k", "v", "op", "seq")
    def at(t: Long) = Upsert.stateAt(log, Seq("k"), t)
      .as[(Long, Option[String])].collect().toMap
    assert(at(0L) == Map(1L -> Some("v0"), 2L -> Some("w0")))
    assert(at(1L) == Map(1L -> Some("v1"), 2L -> Some("w0"), 3L -> Some("x1")))
    assert(at(2L) == Map(2L -> Some("w0"), 3L -> Some("x1")))
  }

  test("stateAt: duplicate (key, seq) and unknown ops raise in-plan") {
    val dup = Seq((1L, "a", "I", 0L), (1L, "b", "U", 0L))
      .toDF("k", "v", "op", "seq")
    intercept[Exception] { Upsert.stateAt(dup, Seq("k"), 5L).collect() }
    val bad = Seq((1L, "a", "X", 0L)).toDF("k", "v", "op", "seq")
    intercept[Exception] { Upsert.stateAt(bad, Seq("k"), 5L).collect() }
    intercept[IllegalArgumentException] {
      Upsert.stateAt(dup, Seq.empty, 5L)
    }
    // a duplicate BEYOND the as-of horizon is pruned before the guard
    val later = Seq((1L, "a", "I", 0L), (1L, "b", "U", 9L),
      (1L, "c", "U", 9L)).toDF("k", "v", "op", "seq")
    assert(Upsert.stateAt(later, Seq("k"), 1L)
      .as[(Long, String)].collect().toSeq == Seq(1L -> "a"))
  }
}
