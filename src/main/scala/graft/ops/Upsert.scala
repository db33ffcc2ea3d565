package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.execution.datasources.parquet.{
  ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Incremental MERGE semantics (SURVEY.md §2.10).
  *
  * The reference implements "new batch wins" with a hand-written correlated
  * `NOT EXISTS` per affected partition plus a driver loop that rewrites
  * partition directories one by one (README.md:1488-1545). Both collapse to
  * two native Spark constructs:
  *
  *  - `merge` = left_anti on the keys + unionByName — Catalyst plans the
  *    reference's NOT EXISTS to exactly this LeftAnti join anyway
  *    (RewritePredicateSubquery);
  *  - `writePartitioned(overwrite = dynamic)` — dynamic partition overwrite
  *    rewrites only the partitions present in the incoming frame, which is
  *    the reference's whole per-partition loop in one declarative write.
  *
  * Scale notes: the anti join shuffles on the merge keys only; with a small
  * batch AQE converts it to a broadcast anti join, so the target table is
  * never shuffled — the property that matters when `target` is 100 TB and
  * the batch is a day's worth of data. On disk, `upsertIntoPath` lists,
  * reads and rewrites only the partition directories the batch touches,
  * named from the batch's distinct partition tuples collected on the
  * driver (bounded by the batch's partition count, not its rows); the
  * table's schema comes from one file footer, and its partition values
  * are read in the batch's types.
  */
object Upsert {

  /** New-batch-wins merge: rows of `target` whose key tuple appears in
    * `batch` are replaced by the batch rows. Idempotent by construction:
    * merge(merge(t, b), b) == merge(t, b).
    */
  /** Null-safe anti join on the key tuple: a plain `keys`-sequence anti
    * join uses `=`, whose NULL comparison is NULL — a null-keyed target
    * row would never match its null-keyed replacement and would survive
    * ALONGSIDE it, silently duplicating the key and breaking
    * idempotency. `<=>` (EqualNullSafe) still plans as a hash join. */
  private def antiOnKeys(
      target: DataFrame, changeKeys: DataFrame, keys: Seq[String]): DataFrame = {
    val cond = keys.map(k => target(k) <=> changeKeys(k)).reduce(_ && _)
    target.join(changeKeys, cond, "left_anti")
  }

  def merge(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    val keyOnly = batch.select(keys.map(col): _*).distinct()
    antiOnKeys(target, keyOnly, keys).unionByName(batch)
  }

  /** CDC MERGE: apply a change batch carrying an op column
    * (`I` insert / `U` update / `D` delete) and a per-key change sequence
    * to a keyed target — the general form of [[merge]] (which is the
    * all-upserts special case). Within the batch the HIGHEST `seqCol`
    * change per key wins (an update followed by a delete nets to the
    * delete); `seqCol` must totally order each key's changes — ties
    * would pick a partitioning-dependent winner, so CDC feeds should
    * carry their log offset/LSN here.
    *
    * Scale shape: one window over the (small) change batch to pick
    * winners — a `Filter(rn = 1, Window)` that the TopKPerKey strategy
    * plans as a bounded heap — plus the same keys-only anti join as
    * [[merge]]: the 100 TB target is anti-joined against broadcastable
    * change keys, never shuffled. An op value outside I/U/D fails the
    * job in-plan (raise_error), not silently: an unrecognized op would
    * otherwise ghost-delete its key. */
  def applyChanges(
      target: DataFrame, changes: DataFrame, keys: Seq[String],
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    require(keys.nonEmpty, "merge keys must be non-empty")
    val guarded = changes.withColumn(opCol,
      when(col(opCol).isin("I", "U", "D"), col(opCol))
        .otherwise(raise_error(concat(
          lit(s"applyChanges: unknown $opCol value '"), col(opCol),
          lit("' (expected I, U or D)")))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    val latest = guarded
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
    val surviving =
      antiOnKeys(target, guarded.select(keys.map(col): _*).distinct(), keys)
    surviving.unionByName(latest.filter(col(opCol) =!= "D").drop(opCol, seqCol))
  }

  /** TIME TRAVEL over a complete change log: reconstruct the table's
    * state AS OF sequence point `asOfSeq` — the "what did the table
    * look like before Tuesday's delete wave" query a CDC log answers
    * that [[applyChanges]]'s latest-state view cannot. The log alone is
    * the source of truth (initial load = `I` rows at the first
    * sequence); state(T) = per key, the row with the greatest seq ≤ T,
    * dropped if that op is `D`.
    *
    * Correctness guards, in-plan: unknown ops raise (the applyChanges
    * contract), and a DUPLICATE (key, seq) raises rather than letting
    * the window pick a nondeterministic winner — applyChanges can
    * tolerate that ambiguity only because its callers deduplicate
    * upstream; a time-travel read has no upstream to lean on.
    *
    * Scale: one filter + one window over the key partitioning — the
    * same single-shuffle shape as applyChanges; `asOfSeq` prunes the
    * log BEFORE the shuffle. */
  def stateAt(log: DataFrame, keys: Seq[String], asOfSeq: Long,
      opCol: String = "op", seqCol: String = "seq"): DataFrame = {
    require(keys.nonEmpty, "stateAt: merge keys must be non-empty")
    val guarded = log.filter(col(seqCol) <= asOfSeq)
      .withColumn(opCol,
        when(col(opCol).isin("I", "U", "D"), col(opCol))
          .otherwise(raise_error(concat(
            lit(s"stateAt: unknown $opCol value '"), col(opCol),
            lit("' (expected I, U or D)")))))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol).desc)
    val wDup = org.apache.spark.sql.expressions.Window
      .partitionBy((keys.map(col) :+ col(seqCol)): _*)
    guarded
      .withColumn("_dup", count(lit(1)).over(wDup))
      .withColumn(seqCol,
        when(col("_dup") > 1, raise_error(concat(
          lit("stateAt: duplicate (key, seq) at seq "),
          col(seqCol).cast("string")))).otherwise(col(seqCol)))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && col(opCol) =!= "D")
      .drop("_rn", "_dup", opCol, seqCol)
  }

  /** SCD Type-2 history build: turn an ordered change log — one row per
    * (entity `keys`, monotone `seqCol`, attribute snapshot `attrCols`) —
    * into a versioned dimension with `valid_from` / `valid_to` /
    * `is_current`, the history-preserving counterpart of the reference's
    * overwrite-style upsert (README.md:1488-1545 keeps only the latest
    * row per key; SCD-2 keeps every distinct version with its validity
    * interval, half-open: `valid_to` = the next version's `valid_from`,
    * NULL while current).
    *
    * Consecutive snapshots with identical attributes are collapsed
    * (no-op changes extend the current version instead of opening a new
    * one) — the null-safe `<=>` struct comparison handles NULL
    * attributes as "same".
    *
    * Scale shape: everything is windows over ONE partitioning
    * (`keys`) — the change-detect lag, the duplicate-seq guard, and the
    * validity lead all reuse a single Exchange+Sort; the 100 TB corpus
    * case shuffles the change log once. A duplicate (key, seq) pair
    * fails IN-PLAN with a diagnostic: "which snapshot is version n" is
    * undefined and would silently produce overlapping validity
    * intervals downstream (the rangeJoin sentinel problem's cousin).
    */
  def scd2(
      changes: DataFrame, keys: Seq[String], seqCol: String,
      attrCols: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "scd2: keys must be non-empty")
    require(attrCols.nonEmpty, "scd2: attrCols must be non-empty")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*).orderBy(col(seqCol))
    val attrs = struct(attrCols.map(col): _*)
    val versions = changes
      .withColumn(seqCol,
        // lag(seq)===seq ⇔ duplicate (key, seq): undefined version order
        when(lag(col(seqCol), 1).over(w) === col(seqCol),
          raise_error(concat(
            lit("scd2: duplicate (key, seq) at seq "),
            col(seqCol).cast("string"),
            lit("; version order is undefined — de-duplicate the change " +
              "log or refine seqCol"))))
          .otherwise(col(seqCol)))
      // a row opens a new version iff it is the key's first snapshot or
      // its attributes differ (null-safely) from the previous snapshot
      .withColumn("_chg", !(attrs <=> lag(attrs, 1).over(w)))
      .filter(col("_chg"))
      .drop("_chg")
    // same partitioning AND ordering as `w`: the filter preserves the
    // sort, so this second window reuses the first's Exchange+Sort
    versions
      .withColumn("valid_from", col(seqCol))
      .withColumn("valid_to", lead(col(seqCol), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .drop(seqCol)
  }

  /** Snapshot diff: classify every key of two table snapshots as
    * `added` / `removed` / `changed` (and optionally `unchanged`) — the
    * verification companion to [[merge]]/[[applyChanges]]: after an
    * upsert lands, diff the published snapshot against the expected one
    * and alert on any drift.
    *
    * Scale shape: each side collapses to (keys, one 256-bit digest of
    * the compared columns) BEFORE the join, so the full-outer join
    * shuffles slim digest rows, never table bodies — on a 100 TB pair
    * the shuffle is a few GB of hashes. The digest is
    * `sha2(to_json(struct(cols)), 256)`: JSON field names disambiguate
    * column boundaries (no separator-injection ambiguity) and NULLs
    * drop out of the object distinctly from any real value.
    *
    * `compareCols` defaults to all common non-key columns; columns
    * outside the intersection are ignored (schema-evolution columns
    * don't spuriously mark every row changed).
    */
  def snapshotDiff(
      before: DataFrame, after: DataFrame, keys: Seq[String],
      compareCols: Seq[String] = Nil,
      includeUnchanged: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "snapshotDiff: keys must be non-empty")
    val common = before.columns.toSet.intersect(after.columns.toSet) -- keys
    val cmp = if (compareCols.nonEmpty) compareCols
              else common.toSeq.sorted
    require(cmp.nonEmpty, "snapshotDiff: no columns to compare")
    require(cmp.forall(common.contains),
      s"snapshotDiff: compareCols must exist on both sides; missing " +
        s"${cmp.filterNot(common.contains).mkString(", ")}")
    def digested(df: DataFrame, name: String): DataFrame =
      df.select(keys.map(col) :+
        sha2(to_json(struct(cmp.map(col): _*)), 256).as(name): _*)
    val b = digested(before, "_dig_b")
    val a = digested(after, "_dig_a")
    val joined = b.join(a, keys, "full_outer")
      .withColumn("diff_status",
        when(col("_dig_b").isNull, lit("added"))
          .when(col("_dig_a").isNull, lit("removed"))
          .when(col("_dig_b") =!= col("_dig_a"), lit("changed"))
          .otherwise(lit("unchanged")))
      .select(keys.map(col) :+ col("diff_status"): _*)
    if (includeUnchanged) joined
    else joined.filter(col("diff_status") =!= "unchanged")
  }

  /** Partitioned parquet write (reference README.md:747-752). With
    * `dynamicOverwrite` only partitions present in `df` are replaced —
    * the scoped-rewrite semantics of README.md:1532-1534 without the loop.
    * The overwrite mode is a per-write option (the file-source insert
    * command prefers it over `spark.sql.sources.partitionOverwriteMode`),
    * so the session conf is never touched and concurrent writers on one
    * session cannot see each other's mode.
    */
  def writePartitioned(
      df: DataFrame,
      path: String,
      partitionCols: Seq[String],
      mode: SaveMode = SaveMode.Overwrite,
      dynamicOverwrite: Boolean = true): Unit =
    df.write.mode(mode)
      .option("partitionOverwriteMode", if (dynamicOverwrite) "dynamic" else "static")
      .partitionBy(partitionCols: _*)
      .parquet(path)

  /** JSONL corpus export — the delivery format most training stacks
    * ingest (one JSON object per line, hive-partitioned directories,
    * gzip shards). Shard count is controlled per partition directory:
    * rows are repartitioned on (`partitionCols`, shard) where shard =
    * pmod(hash(shardCol), shardsPerPartition), so every output
    * directory holds at most `shardsPerPartition` similar-sized files
    * — the writer-side knob that keeps a 100 TB export from emitting
    * either one giant file per partition or one file per task.
    *
    * The written artifact is plain newline-delimited JSON readable by
    * any engine (the catalog key has DuckDB parse the actual shards —
    * gzip, escapes, hive layout and all — against the source rows).
    * Column values must not THEMSELVES need a schema to round-trip:
    * long/double/string/boolean/array survive; timestamps export as
    * ISO strings (the JSON-reader contract on both engines). */
  def exportJsonl(
      df: DataFrame, path: String, partitionCols: Seq[String],
      shardCol: String, shardsPerPartition: Int = 1,
      compression: String = "gzip"): Unit = {
    require(shardsPerPartition > 0,
      s"shardsPerPartition must be positive, got $shardsPerPartition")
    val sharded = df.repartition(
      (partitionCols.map(col) :+
        pmod(hash(col(shardCol)), lit(shardsPerPartition))): _*)
    sharded.write.mode(SaveMode.Overwrite)
      .partitionBy(partitionCols: _*)
      .option("compression", compression)
      .json(path)
  }

  /** Decode a Hive %-escaped partition-path value EXACTLY as Spark's
    * partition inference does (delegates to the engine's decoder, which
    * maps each %XX escape to one char). Parity with the read path is
    * the contract — see the caller in [[compactPartitions]]. */
  private[ops] def unescapePathSegment(s: String): String =
    org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName(s)

  /** Result of a [[compactPartitions]] pass. */
  final case class CompactionStats(
      partitionsCompacted: Int, filesBefore: Int, filesAfter: Int)

  /** Small-file compaction for a partitioned parquet table — the
    * standing maintenance job of any incrementally-upserted table:
    * every upsert batch rewrites its partitions with batch-sized files,
    * and a year of daily batches leaves thousands of KB-sized files
    * whose open/footer overhead dominates scans at 100 TB.
    *
    * Partitions whose files number more than one AND average below
    * `smallFileBytes` are rewritten into ceil(partitionBytes /
    * targetFileBytes) files (≥1) via dynamic partition overwrite;
    * healthy partitions are NOT touched (their files stay
    * byte-identical — asserted in UpsertSpec). File listing is a
    * driver-side metadata walk bounded by partition/file count, same
    * budget class as `upsertIntoPath`'s partition discovery; the data
    * itself moves through one distributed read→write per compacted
    * partition set, never `collect()`ed.
    *
    * Restriction: `partitionCols` must name every partition level of
    * the table (nested layouts list one dir per leaf partition). Null
    * partitions (`__HIVE_DEFAULT_PARTITION__`) and Hive-%-escaped
    * directory values are handled; values whose STRING form is
    * reinterpreted by the reader (timestamps) are not — same contract
    * as `upsertIntoPath`'s partition tuples. */
  def compactPartitions(
      spark: SparkSession, path: String, partitionCols: Seq[String],
      targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 32L * 1024 * 1024): CompactionStats = {
    require(partitionCols.nonEmpty, "compactPartitions needs partition columns")
    require(targetFileBytes > 0 && smallFileBytes > 0, "byte thresholds must be positive")
    // Hadoop FS, not java.io.File: the table usually lives on s3a/hdfs,
    // where a local-File walk would silently list nothing and report
    // the table healthy forever
    val rootPath = new org.apache.hadoop.fs.Path(path)
    val hfs = rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def ls(p: org.apache.hadoop.fs.Path) =
      try hfs.listStatus(p).toSeq
      catch { case _: java.io.FileNotFoundException => Seq.empty }
    def leaves(p: org.apache.hadoop.fs.Path, depth: Int): Seq[org.apache.hadoop.fs.Path] =
      if (depth == 0) Seq(p)
      else ls(p).filter(s => s.isDirectory && s.getPath.getName.contains("="))
        .flatMap(s => leaves(s.getPath, depth - 1))
    def dataFiles(p: org.apache.hadoop.fs.Path) =
      ls(p).filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
    val parts = leaves(rootPath, partitionCols.length).map(d => d -> dataFiles(d))
    val small = parts.filter { case (_, fs) =>
      fs.length > 1 && fs.map(_.getLen).sum / fs.length < smallFileBytes
    }
    val filesBefore = parts.map(_._2.length).sum
    if (small.isEmpty) return CompactionStats(0, filesBefore, filesBefore)

    // decode one k=v path segment: Hive %-escapes special chars and
    // writes nulls as __HIVE_DEFAULT_PARTITION__ (→ None). MUST match
    // Spark's partition inference byte-for-byte — predOf compares
    // against values `spark.read.parquet` inferred from the same dir
    // names, so any private decoder that disagrees (e.g. decoding
    // %C3%A9 as the UTF-8 sequence 'é' where Spark's reader produces
    // per-char 'Ã©') silently matches zero rows and the partition is
    // never compacted. Delegating to the engine's own decoder makes
    // drift impossible.
    def unescape(s: String): String = Upsert.unescapePathSegment(s)
    def kvsOf(dir: org.apache.hadoop.fs.Path): Seq[(String, Option[String])] = {
      val segs = dir.toString.stripPrefix(rootPath.toString)
        .split('/').filter(_.contains("=")).toSeq
      segs.map { seg =>
        val Array(k, v) = seg.split("=", 2)
        (unescape(k),
          if (v == "__HIVE_DEFAULT_PARTITION__") None else Some(unescape(v)))
      }
    }
    def predOf(dir: org.apache.hadoop.fs.Path): Column =
      kvsOf(dir).map {
        case (k, Some(v)) => col(k) === lit(v)
        case (k, None) => col(k).isNull
      }.reduce(_ && _)

    // per-partition file target: ceil(bytes / targetFileBytes), ≥ 1. A
    // single global repartition(n) would round-robin EVERY partition's
    // rows across all n tasks — writing ~n files into every compacted
    // dir and re-fragmenting what it set out to fix. Instead each row
    // hashes to one of ITS partition's file buckets and the shuffle
    // keys on (partition cols, bucket), so a dir receives at most its
    // own bucket count of files.
    val filesFor: Seq[(org.apache.hadoop.fs.Path, Int)] = small.map { case (dir, fs) =>
      val bytes = fs.map(_.getLen).sum
      dir -> math.max(1L, (bytes + targetFileBytes - 1) / targetFileBytes).toInt
    }
    val full = spark.read.parquet(path)
    val affected = full.filter(filesFor.map { case (d, _) => predOf(d) }.reduce(_ || _))
    val nFilesExpr = filesFor.foldLeft(lit(1)) { case (acc, (d, n)) =>
      when(predOf(d), lit(n)).otherwise(acc)
    }
    val dataCols = full.columns.filterNot(partitionCols.contains).map(col)
    val bucket =
      if (dataCols.isEmpty) lit(0L)
      else pmod(xxhash64(dataCols: _*), nFilesExpr)
    val totalFiles = filesFor.map(_._2).sum
    val shuffled = affected.repartition(totalFiles,
      partitionCols.map(col) :+ bucket: _*)
    writePartitioned(shuffled, path, partitionCols)
    val after = leaves(rootPath, partitionCols.length).map(d => dataFiles(d).length).sum
    CompactionStats(small.length, filesBefore, after)
  }

  /** Bucketed managed table (catalog sink): co-locates rows by hash of
    * `bucketCols` at write time, so joins and aggregations keyed on the
    * bucket columns skip their shuffle entirely (asserted in
    * BucketingSpec). At 100 TB this is the difference between re-shuffling
    * the fact table on every join and shuffling it once at load. */
  def writeBucketedTable(
      df: DataFrame, table: String,
      bucketCols: Seq[String], nBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table) && !table.contains(".")) {
      // Overwrite only overwrites CATALOGED tables: a managed-table dir
      // left by a previous process (whose in-memory catalog died with
      // it) makes saveAsTable refuse with LOCATION_ALREADY_EXISTS.
      // Overwrite intent extends to that orphaned location. Resolve the
      // location through the session catalog (honours the CURRENT
      // database) rather than assuming <warehouse.dir>/<table>, so a
      // same-named live table in another database is never touched.
      val loc = new org.apache.hadoop.fs.Path(
        spark.sessionState.catalog.defaultTablePath(
          org.apache.spark.sql.catalyst.TableIdentifier(table)))
      val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(loc, true)
    }
    val w = df.write.mode(SaveMode.Overwrite)
      .bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    val sorted = if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w
    sorted.format("parquet").saveAsTable(table)
  }

  /** Incremental update of a partitioned parquet table on disk: merge the
    * batch into the target and rewrite only the affected partitions.
    *
    * INVARIANT (default mode): partition-column values must be
    * functionally dependent on the merge keys — i.e. an update never moves
    * a key to a different partition. Under that invariant, "partitions
    * present in the batch" is exactly the set of partitions containing
    * superseded rows, so only those partitions are listed, read and
    * rewritten. The batch is materialized once and its distinct partition
    * tuples are collected on the driver (partition-tuple metadata: one
    * slim row per batch partition, the same budget as the dynamic
    * overwrite's own per-partition commit), as strings in the session
    * time zone, which is how the writer formats them. Each tuple names its
    * leaf directory through the writer's own escaping (NULL →
    * `__HIVE_DEFAULT_PARTITION__`), and only the directories that exist
    * are opened, so the rest of the table is never listed. The table's
    * data schema comes from one file footer, read on the driver without a
    * Spark job, and its partition values are read in the BATCH's types,
    * so a zero-padded string partition (`code=007`) stays a string
    * instead of being inferred as the int 7. A batch whose partitions are
    * all new, as every batch into a target that does not exist yet, is
    * written as it is. The cost is O(batch partitions), not O(table); the
    * target is never shuffled.
    *
    * If a batch CAN move a key across partitions (e.g. a corrected
    * partition value for an existing key), pass
    * `keysMayChangePartitions = true`: the affected-partition set is then
    * widened with the partitions currently holding the batch's keys,
    * which needs the target's key→partition map and therefore a
    * key-projected scan of the WHOLE target, so the superseded row in the
    * old partition is rewritten away instead of surviving as a duplicate.
    *
    * Durability note: this reads and dynamic-overwrites the same path in
    * one job. The file-commit protocol stages output files and swaps the
    * affected partition directories at job commit (after all reads are
    * done), but a crash DURING commit can leave affected partitions
    * partially replaced — run against table snapshots or keep a retention
    * copy if that window matters for your deployment.
    */
  def upsertIntoPath(
      spark: SparkSession,
      targetPath: String,
      batch: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String],
      keysMayChangePartitions: Boolean = false): Unit =
    if (keysMayChangePartitions)
      upsertMovingKeys(spark, targetPath, batch, keys, partitionCols)
    else {
      // the batch feeds the tuple collect, the key anti join and the
      // union: persist it so it is computed once. persist, not
      // localCheckpoint: cached blocks lost with an executor are
      // recomputed from lineage instead of failing the write
      val owned = batch.storageLevel == org.apache.spark.storage.StorageLevel.NONE
      val staged = if (owned) batch.persist() else batch
      try {
        val tuples = staged
          .select(partitionCols.map(c => col(c).cast("string")): _*)
          .distinct()
          .collect() // partition-tuple metadata: one row per batch partition
        // an empty batch names no partition: nothing to read or rewrite
        if (tuples.nonEmpty) {
          val root = new Path(targetPath)
          val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
          val dirs = tuples.toSeq.map(r => ExternalCatalogUtils.generatePartitionPath(
            partitionCols.indices.map(i => partitionCols(i) -> r.getString(i)).toMap,
            partitionCols, root)).filter(fs.exists)
          val merged = readPartitions(spark, fs, targetPath, dirs, staged.schema, partitionCols)
            .fold(staged)(merge(_, staged, keys))
          writePartitioned(merged, targetPath, partitionCols)
        }
      } finally if (owned) staged.unpersist(blocking = false)
    }

  /** The rows of the partition directories `dirs` under `targetPath`, or
    * None if they hold no data file. Only `dirs` are listed. The data
    * schema is read from the footer of one of their files on the driver
    * (no schema-inference job); the partition columns take their types
    * from `batchSchema`, so the directory values parse in the batch's
    * types rather than in types inferred from the directory names. */
  private def readPartitions(
      spark: SparkSession, fs: FileSystem, targetPath: String, dirs: Seq[Path],
      batchSchema: StructType, partitionCols: Seq[String]): Option[DataFrame] = {
    // the file source's own rule for what is not a data file
    def isData(s: FileStatus) = s.isFile && !s.getPath.getName.startsWith("_") &&
      !s.getPath.getName.startsWith(".")
    dirs.iterator.flatMap(d => fs.listStatus(d).find(isData)).nextOption().map { file =>
      val footer = ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(file, spark.sparkContext.hadoopConfiguration),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val fileSchema = ParquetFileFormat.readSchemaFromFooter(
        new Footer(file.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      val schema = StructType(fileSchema.filterNot(f => partitionCols.contains(f.name)) ++
        partitionCols.map(batchSchema(_)))
      spark.read.schema(schema).option("basePath", targetPath)
        .parquet(dirs.map(_.toString): _*)
    }
  }

  /** [[upsertIntoPath]] for batches that may move a key to another
    * partition: reads the whole target to find where the batch's keys
    * live now. */
  private def upsertMovingKeys(
      spark: SparkSession,
      targetPath: String,
      batch: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String]): Unit = {
    val target = spark.read.parquet(targetPath)
    // rows in affected partitions that are NOT superseded must be
    // rewritten too (the partition is replaced wholesale), so restrict
    // the merge to affected partitions before the dynamic overwrite.
    // partition-tuple comparisons must be NULL-SAFE (<=>): a null
    // partition value is a real directory (__HIVE_DEFAULT_PARTITION__),
    // and plain equi-join semantics would silently drop its rows from
    // targetAffected (losing non-superseded data on rewrite) and
    // misclassify it as emptied below
    def partCond(renamed: String => String) =
      partitionCols.map(c => col(c) <=> col(renamed(c))).reduce(_ && _)
    def renamed(df: DataFrame, prefix: String): DataFrame =
      df.toDF(df.columns.map(prefix + _): _*)

    val batchParts = batch.select(partitionCols.map(col): _*).distinct()
    // partitions that currently hold any of the batch's keys: their
    // superseded rows must be rewritten out even if the batch writes
    // those keys into DIFFERENT partitions
    val batchKeys = batch.select(keys.map(col): _*).distinct()
    val oldKeyParts = target.join(batchKeys, keys, "left_semi")
      .select(partitionCols.map(col): _*).distinct()
    val affected = batchParts.union(oldKeyParts).distinct()
    val targetAffected = target.join(
      renamed(affected, "__aff_"), partCond("__aff_" + _), "left_semi")
    val merged = merge(targetAffected, batch, keys)
    // A partition whose EVERY row was superseded by a key move ends empty;
    // dynamic overwrite cannot express "delete this partition" (no output
    // row maps to it), so those directories are removed explicitly. The
    // directory names come from the target's OWN file paths (not from
    // re-deriving Spark's value→path formatting, which is type-dependent:
    // e.g. timestamps escape to '…00%3A00%3A00' with no fractional part),
    // and must materialize BEFORE the overwrite (the lazy plan reads the
    // pre-write target).
    val remaining = merged.select(partitionCols.map(col): _*).distinct()
    val emptiedTuples = affected.join(
      renamed(remaining, "__rem_"), partCond("__rem_" + _), "left_anti")
    // input_file_name must be projected over the single-source scan
    // BEFORE any join (it is undefined across multiple sources)
    val targetFiles = target
      .select(partitionCols.map(col) :+ input_file_name().as("_f"): _*)
      .distinct()
    val emptiedDirs = targetFiles
      .join(renamed(emptiedTuples, "__emp_"), partCond("__emp_" + _), "left_semi")
      .select(col("_f")).distinct()
      .collect() // partition-tuple metadata: file names of emptied partitions only
      .map(_.getString(0))
      .map(f => f.substring(0, f.lastIndexOf('/')))
      .distinct
    writePartitioned(merged, targetPath, partitionCols)
    if (emptiedDirs.nonEmpty) {
      val root = new org.apache.hadoop.fs.Path(targetPath)
      val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
      emptiedDirs.foreach(d => fs.delete(new org.apache.hadoop.fs.Path(d), true))
    }
  }
}
