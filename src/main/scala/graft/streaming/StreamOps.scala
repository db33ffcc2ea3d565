package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

import graft.ops.Upsert

/** Structured Streaming surface (SURVEY.md §2.10 extension tier).
  *
  * The reference's "incremental" story is a scheduled batch upsert; these
  * ops are its streaming-native equivalents: event-time tumbling windows
  * with watermarks, a foreachBatch MERGE sink (the streaming twin of
  * Upsert.merge), and custom session state via flatMapGroupsWithState.
  * Each transform is defined on a plain DataFrame/Dataset so the same
  * code runs in batch tests and under readStream in production.
  */
object StreamOps {

  /** Event-time tumbling aggregation. On a stream, pair with
    * `withWatermark` (see `tumblingCountsStreaming`); in batch the same
    * expression is the oracle-checked `stream_tumbling_agg` query. */
  def tumblingCounts(events: DataFrame, every: String = "1 hour"): DataFrame =
    slidingCounts(events, size = every, slide = every) // tumbling ≡ slide == size

  /** Streaming variant: 1-day watermark bounds state; late rows beyond it
    * are dropped — the principled version of the reference's 31-day
    * re-fetch overlap. */
  def tumblingCountsStreaming(events: DataFrame, every: String = "1 hour",
      watermark: String = "1 day"): DataFrame =
    tumblingCounts(events.withWatermark("ts", watermark), every)

  /** Sliding-window counts: each event contributes to size/slide
    * overlapping windows (the Generate below the agg fans each row out
    * to its windows — state per OPEN window, not per event). Same
    * output columns as [[tumblingCounts]]. */
  def slidingCounts(events: DataFrame, size: String = "1 hour",
      slide: String = "30 minutes"): DataFrame =
    events.groupBy(window(col("ts"), size, slide))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(DecimalType(18, 6))).cast(DoubleType).as("sum_value"))
      .select(col("window.start").as("ws"), col("cnt"), col("sum_value"))

  /** Streaming variant: the watermark closes a sliding window once it
    * passes the window END — size/slide windows are open per key at any
    * moment, which is the state bound. */
  def slidingCountsStreaming(events: DataFrame, size: String = "1 hour",
      slide: String = "30 minutes", watermark: String = "1 day"): DataFrame =
    slidingCounts(events.withWatermark("ts", watermark), size, slide)

  /** foreachBatch MERGE sink: every micro-batch upserts into a partitioned
    * parquet target with new-batch-wins semantics — the streaming form of
    * the reference's monthly job. Use as:
    * `df.writeStream.foreachBatch(mergeBatch(path, keys, partCols) _)`. */
  def mergeBatch(targetPath: String, keys: Seq[String], partitionCols: Seq[String])(
      batch: DataFrame, batchId: Long): Unit =
    // upsertIntoPath bootstraps a missing target itself: none of the
    // batch's partition directories exists, so the batch is written as it is
    Upsert.upsertIntoPath(batch.sparkSession, targetPath, batch, keys, partitionCols)

  /** DAILY-INGEST composition — what a production continuous-ingest
    * pipeline actually deploys: a file-source stream of arriving batches
    * where every micro-batch is (1) exact-deduplicated WITHIN itself
    * (a day's crawl repeats itself; deterministic min-id winner per text
    * digest), (2) deduplicated AGAINST the accumulated corpus via the
    * bloom-prefiltered exact tier ([[graft.ops.DedupOps.bloomFitDigests]]
    * + [[graft.ops.DedupOps.incrementalDedupBloom]] — the anti-join
    * shuffle carries ~|dups| + fpp·|batch| instead of |batch|), and
    * (3) MERGE-upserted into the partitioned corpus (new-batch-wins,
    * same sink as [[mergeBatch]]).
    *
    * Use as `stream.writeStream.foreachBatch(
    * dedupMergeBatch(path, "doc_id", "text", Seq("lang")) _)`.
    *
    * `nearDup = true` adds TWO near tiers. (1b) runs IN-BATCH first
    * ([[graft.ops.DedupOps.inBatchNearDedup]], same band-collision
    * criterion, deterministic min-id winner): near-dups arriving in the
    * SAME micro-batch — any batch, bootstrap included — would otherwise
    * all pass the corpus-tier anti-join together and merge, permanently
    * polluting the corpus. (2b) then runs the minhash-band tier of
    * [[graft.ops.DedupOps.incrementalDedup]] against the accumulated
    * corpus — a cross-day NEAR duplicate (same page, edited footer) is
    * dropped before it merges, not just the byte-identical recrawl. In
    * both tiers only (id, band) pairs shuffle; document bodies never
    * move in the near passes.
    *
    * IDEMPOTENT under replay — the property foreachBatch sinks need,
    * since a micro-batch can re-run after a failure: re-processed docs
    * are either text-dups of corpus rows (dropped in step 2), near-dups
    * of corpus rows they themselves created (every band now present →
    * dropped in step 2b), or same-id rows (overwritten in place by the
    * MERGE), so a replayed batch leaves the corpus unchanged. The bloom
    * sketch is refit per micro-batch here (one partial-agg scan of
    * corpus digests); a production deployment with many batches per
    * corpus version would memoize it on the corpus version, exactly
    * like the Catalog's per-dataset sketch cache. */
  def dedupMergeBatch(
      targetPath: String, idCol: String, textCol: String,
      partitionCols: Seq[String],
      bloomExpectedItems: Long = 4000000L,
      nearDup: Boolean = false,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      // reliable-checkpoint seam (r16 verdict ask #1): the exact-novel
      // materialization point below routes through DedupOps.materialize,
      // so on a preemptible cluster an executor loss mid-merge rebuilds
      // from checkpoint files instead of replaying the bloom anti-join
      checkpointDir: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    val spark = batch.sparkSession
    import graft.ops.DedupOps
    DedupOps.setupCheckpointDir(batch, checkpointDir)
    // (1) in-batch exact dedup on the text digest (NULL-text rows share
    // the family's sentinel digest, so they dedup here too)
    val localExact = DedupOps.exactDedup(
      batch.withColumn("_h", DedupOps.textDigest(textCol)), Seq("_h"), idCol)
      .drop("_h")
    // (1b) in-batch NEAR tier: same band-collision criterion as the
    // corpus tier below, so same-batch near-dups (bootstrap included)
    // cannot slip past the corpus anti-join together
    val local =
      if (nearDup) DedupOps.inBatchNearDedup(
        localExact, idCol, textCol, numHashes, bands, shingleN)
      else localExact
    // only a genuinely missing target means bootstrap; any other read
    // failure must propagate — treating a transient FS error as "table
    // does not exist" would overwrite affected partitions with
    // batch-only rows (silent data loss)
    val exists = try { spark.read.parquet(targetPath).schema.nonEmpty }
    catch {
      case e: org.apache.spark.sql.AnalysisException
        if Set("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA")
          .contains(e.getCondition) => false
    }
    if (!exists) {
      Upsert.writePartitioned(local, targetPath, partitionCols)
    } else {
      val corpus = spark.read.parquet(targetPath)
      // (2) corpus-tier dedup, bloom-prefiltered
      val novelExact = DedupOps.incrementalDedupBloom(
        local, corpus, idCol, textCol,
        DedupOps.bloomFitDigests(corpus, textCol, bloomExpectedItems))
      // (2b) near-dup tier: minhash bands vs the accumulated corpus.
      // incrementalDedup re-runs its exact digest anti-join first — a
      // no-op over already-exact-novel rows, and the batch side is small.
      // The exact-novel frame is MATERIALIZED first: the near tier
      // references it three times (guard, band stream, final semi join),
      // and the bloom sketch rides novelExact's plan as a megabytes-long
      // literal — tripling that subtree makes plan *rendering* alone
      // allocate gigabytes (observed OOM: AQE explainString on the
      // composed plan). materialize truncates the lineage to one
      // small scan, and the micro-batch is exactly the right size to pin
      // (reliable checkpoint files when checkpointDir is given).
      val staged =
        if (nearDup) Some(DedupOps.materialize(novelExact, checkpointDir))
        else None
      val novel = staged.fold(novelExact)(
        DedupOps.incrementalDedup(_, corpus, idCol, textCol,
          nearDup = true, numHashes, bands, shingleN))
      // (3) MERGE the surviving novelty
      try Upsert.upsertIntoPath(spark, targetPath, novel, Seq(idCol), partitionCols)
      finally staged.foreach(DedupOps.releaseCheckpoint)
    }
  }

  /** STREAMING corpus-prep ingest — the full arrival-time composition a
    * continuous training-data pipeline deploys: each micro-batch is
    * C4-line-cleaned (Raffel et al. 2020 §2.2; dirty docs drop, clean
    * docs carry their REBUILT `clean_text`), Gopher-filtered (Rae et
    * al. 2021 A1), then handed to [[dedupMergeBatch]]'s full dedup
    * ladder (in-batch exact → in-batch NEAR → bloom-prefiltered exact
    * vs corpus → near vs corpus → MERGE). Batches land pre-filtered AND
    * near-dup-free against the accumulated corpus — the streaming twin
    * of [[graft.ops.CorpusPrep.prepare]]'s batch pipeline.
    *
    * The unigram-LM quality tier is available streaming-side through
    * `lmModel`: a FROZEN [[graft.ops.TextOps.unigramLmFit]] model (fit
    * offline on a reference corpus, persistable to parquet — the IVF
    * fit/query pattern applied to quality scoring). Scoring against a
    * frozen model is what makes the tier incrementalizable: a per-batch
    * fit would drift with every batch and re-judge old docs under new
    * statistics, while the frozen model scores a doc identically
    * streamed or batched ([[graft.ops.TextOps.unigramScoreWith]]'s
    * contract, unit-pinned). Docs whose `mean_neg_logprob` exceeds
    * `lmMaxMeanNegLogProb` drop before the dedup ladder.
    *
    * The model-based classifier tier ([[graft.ops.ClassifyOps]], the
    * CCNet-style quality model) streams the same way through
    * `nbModel`: a FROZEN [[graft.ops.ClassifyOps.nbFit]] model frame,
    * and only docs whose argmax class equals `nbKeepLabel` survive —
    * same frozen-statistics argument, same semi-join shape, and the
    * classifier's exact-decimal scoring makes streamed and batch
    * verdicts bit-identical. The DSIR tier (`dsirModel`, see
    * [[graft.ops.DsirOps]]) streams identically: a frozen target-vs-raw
    * importance model thresholds each batch on `log_w ≥ dsirMinLogW` —
    * distribution matching beside the absolute quality gates. Split
    * assignment (and DSIR's corpus-wide top-k selection form) remains
    * batch-by-nature: cluster-keyed over the FINAL corpus, run when
    * training data is cut.
    *
    * Both quality tiers are zero-shuffle per-row projections, so the
    * composition adds no exchange before the dedup ladder; idempotency
    * under replay is inherited from [[dedupMergeBatch]] (filters are
    * deterministic per row). Use as `stream.writeStream.foreachBatch(
    * corpusPrepMergeBatch(path, "doc_id", "text", Seq("lang")) _)`. */
  def corpusPrepMergeBatch(
      targetPath: String, idCol: String, textCol: String,
      partitionCols: Seq[String],
      minLineWords: Int = 5, minLinesKept: Int = 3,
      gopherMinWords: Int = 20, gopherMaxWords: Int = 100000,
      gopherMinMeanWordLen: Double = 3.0, gopherMaxMeanWordLen: Double = 10.0,
      gopherMaxSymbolRatio: Double = 0.1, gopherMinAlphaRatio: Double = 0.8,
      gopherMinStopwords: Int = 1,
      bloomExpectedItems: Long = 4000000L,
      // nearDup=false keeps only the exact tiers (in-batch digest dedup
      // + bloom-prefiltered corpus anti-join) — engine-exact end to end,
      // so the composed flow is DuckDB-oracleable; true adds the minhash
      // band tiers (production default, signature-engine-specific)
      nearDup: Boolean = true,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      lmModel: Option[DataFrame] = None,
      lmMaxMeanNegLogProb: Double = Double.MaxValue,
      nbModel: Option[DataFrame] = None,
      nbKeepLabel: String = "keep",
      bigramModel: Option[DataFrame] = None,
      bigramMaxMeanNegLogProb: Double = Double.MaxValue,
      dsirModel: Option[DataFrame] = None,
      dsirMinLogW: Double = Double.MinValue,
      dsirBuckets: Int = 256, dsirSeed: Long = 7L,
      checkpointDir: Option[String] = None)(
      batch: DataFrame, batchId: Long): Unit = {
    import graft.ops.TextOps
    val keepCols = batch.columns.toSeq
    val others = keepCols.filterNot(_ == textCol).map(col)
    // observe fences between each stage and its keep filter — see
    // CorpusPrep.fence: without them PushDownPredicates re-inlines the
    // whole per-row stage chain into the pushed predicate (~10× per-doc
    // string-program cost in the batch ladder, same shape here)
    val c4Kept = graft.ops.CorpusPrep.fence(
      TextOps.c4QualityFlags(batch, textCol, minLineWords, minLinesKept),
      "ingest_c4")
      .filter(col("keep") === 1)
      .select(others :+ col("clean_text").as(textCol): _*)
    val gopherKept = graft.ops.CorpusPrep.fence(
      TextOps.gopherQualityFlags(c4Kept, textCol,
        gopherMinWords, gopherMaxWords,
        gopherMinMeanWordLen, gopherMaxMeanWordLen,
        gopherMaxSymbolRatio, gopherMinAlphaRatio, gopherMinStopwords),
      "ingest_gopher")
      .filter(col("keep") === 1)
      .select(keepCols.map(col): _*)
    // frozen-LM tier: score the surviving docs against the offline-fit
    // model and semi-join the passers back — the micro-batch is the
    // only corpus-scale side, the model is vocabulary-sized
    val lmKept = lmModel.fold(gopherKept) { model =>
      val passing = TextOps.unigramScoreWith(gopherKept, idCol, textCol, model)
        .filter(col("mean_neg_logprob") <= lit(lmMaxMeanNegLogProb))
        .select(col(idCol))
      gopherKept.join(passing, Seq(idCol), "left_semi")
    }
    // frozen-classifier tier: argmax class under the offline-fit NB
    // model must equal the keep label — the same semi-join shape
    val nbKept = nbModel.fold(lmKept) { model =>
      val passing = graft.ops.ClassifyOps.nbClassifyWith(
          lmKept, idCol, textCol, model)
        .filter(col("pred_label") === lit(nbKeepLabel))
        .select(col(idCol))
      lmKept.join(passing, Seq(idCol), "left_semi")
    }
    // frozen bigram-LM tier (TextOps.bigramScoreWith): context-aware
    // perplexity under an offline-fit stupid-backoff model — the same
    // frozen-statistics argument as the unigram tier (exact-decimal
    // scoring ⇒ streamed and batch verdicts bit-identical), one more
    // semi-join; pipelines typically run it as the sharper replacement
    // for the unigram gate rather than alongside it
    val bgKept = bigramModel.fold(nbKept) { model =>
      val passing = TextOps.bigramScoreWith(nbKept, idCol, textCol, model)
        .filter(col("mean_neg_logprob") <= lit(bigramMaxMeanNegLogProb))
        .select(col(idCol))
      nbKept.join(passing, Seq(idCol), "left_semi")
    }
    // frozen-DSIR tier (graft.ops.DsirOps): importance weight under an
    // offline-fit target-vs-raw bucket model — distribution MATCHING
    // where the LM/NB tiers are absolute quality gates. The quantized-
    // decimal model makes streamed and batch weights bit-identical
    // (the same frozen-statistics argument); dsirBuckets/dsirSeed must
    // be the fit-time values (DsirOps.dsirScoreWith's contract). Note
    // the top-k SELECTION stage stays batch-by-nature — a per-batch
    // top-k is not a corpus top-k — so the streaming gate is the
    // threshold form: keep docs with log_w ≥ dsirMinLogW.
    val dsKept = dsirModel.fold(bgKept) { model =>
      val passing = graft.ops.DsirOps.dsirScoreWith(
          bgKept, idCol, textCol, model, dsirBuckets, dsirSeed)
        .filter(col("log_w") >= lit(dsirMinLogW))
        .select(col(idCol))
      bgKept.join(passing, Seq(idCol), "left_semi")
    }
    dedupMergeBatch(targetPath, idCol, textCol, partitionCols,
      bloomExpectedItems, nearDup, numHashes, bands, shingleN,
      checkpointDir)(dsKept, batchId)
  }

  /** Streaming exact dedup with bounded state: duplicates arriving within
    * the watermark horizon are dropped, state for keys older than the
    * watermark is evicted. The streaming twin of `DedupOps.exactDedup` —
    * at 100 TB/day the watermark bound is what keeps the state store from
    * growing without limit (unbounded `dropDuplicates` state is the
    * classic streaming-dedup OOM). Works on batch frames too (plain
    * dropDuplicates semantics) so the same code is testable both ways. */
  def dedupWithinWatermark(
      df: DataFrame, keys: Seq[String],
      eventTimeCol: String, delay: String): DataFrame = {
    val wm = df.withWatermark(eventTimeCol, delay)
    if (df.isStreaming) wm.dropDuplicatesWithinWatermark(keys)
    else wm.dropDuplicates(keys)
  }

  /** Stream-stream inner join with a bounded time-range condition: right
    * rows join left rows whose event time falls in [rightTs, rightTs +
    * `horizon`]. Both sides carry watermarks, so each side's buffered
    * state is evicted once the other side's watermark passes the join
    * range — the condition shape (equi key + bounded time range) is what
    * makes unbounded stream-stream join state finite.
    *
    * NAMING CONTRACT (validated): the right frame must carry its join key
    * as `r_<key>` — stream-stream joins forbid ambiguous column names, so
    * the two sides' keys must differ; the prefix makes the pairing
    * explicit rather than positional. */
  def streamStreamJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      watermark: String, horizon: String): DataFrame =
    timeRangeJoin(left, right, key, leftTs, rightTs, watermark, horizon, "inner")

  /** Shared body of the two stream-stream join shapes: the validation
    * and the bounded time-range condition live HERE, once — the public
    * inner/left-outer wrappers differ only in join type. */
  private def timeRangeJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      watermark: String, horizon: String, joinType: String): DataFrame = {
    require(left.columns.contains(key),
      s"left side must carry join key '$key' (has: ${left.columns.mkString(", ")})")
    require(right.columns.contains(s"r_$key"),
      s"right side must carry the join key renamed to 'r_$key' " +
        s"(has: ${right.columns.mkString(", ")}); rename it before joining — " +
        "stream-stream joins need unambiguous per-side key names")
    require(!left.columns.contains(s"r_$key"),
      s"left side must NOT carry 'r_$key' — the join condition would bind to it")
    left.withWatermark(leftTs, watermark)
      .join(right.withWatermark(rightTs, watermark),
        expr(s"$key = r_$key AND $leftTs BETWEEN $rightTs AND $rightTs + INTERVAL $horizon"),
        joinType)
  }

  /** Stream-stream LEFT OUTER variant of [[streamStreamJoin]]: matched
    * rows emit like the inner join; an unmatched left row emits with
    * NULL right columns — but only once the watermark has passed the
    * end of its join range, i.e. once no future right-side row can
    * still match it. That wait is what makes outer results CORRECT
    * under out-of-order arrival (emitting eagerly would produce a
    * null-padded row and later its match); it also means outer rows
    * trail the watermark delay — size `watermark` accordingly. Same
    * naming contract and state-eviction bounds as the inner form. */
  def streamStreamLeftOuterJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      watermark: String, horizon: String): DataFrame =
    timeRangeJoin(left, right, key, leftTs, rightTs, watermark, horizon,
      "left_outer")

  /** Stream-stream FULL OUTER variant — completes the join trio.
    * Unmatched rows from EITHER side emit null-padded once the opposing
    * watermark has passed their join range (each side waits on the
    * other's eviction point, so outer emission trails by the watermark
    * delay on both sides). Same naming contract and bounded-state
    * condition shape as the inner/left-outer forms. */
  def streamStreamFullOuterJoin(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String,
      watermark: String, horizon: String): DataFrame =
    timeRangeJoin(left, right, key, leftTs, rightTs, watermark, horizon,
      "full_outer")

  // ----------------------------------------------------- stateful sessions

  case class Event(user_id: Long, event_id: Long, tsMicros: Long, value: Double)
  case class SessionState(sessionId: Long, lastTs: Long, n: Long)
  case class SessionOut(user_id: Long, session_id: Long, n_events: Long)

  /** Custom stateful sessionization: a new session starts after a gap of
    * more than `gapSeconds`. Works on a streaming Dataset (state persisted
    * across micro-batches) and on a batch Dataset (whole group at once) —
    * the batch path is cross-checked against the SQL sessionization in
    * StreamingSpec.
    *
    * @param emitOpen emit the still-open trailing session per group.
    *   `true` (default) is for BATCH use, where the input is complete.
    *   Streaming callers MUST pass `false` — emitting the open session at
    *   every micro-batch would duplicate it in Append output — and close
    *   sessions via an event-time/processing-time timeout instead.
    * @param maxGroupEvents hot-key guard: the group iterator must be
    *   buffered and sorted in executor memory (flatMapGroupsWithState
    *   gives no secondary sort), so a single user exceeding this many
    *   events per (micro-)batch fails FAST with a diagnostic instead of
    *   OOMing the executor mid-shuffle. Size it to the executor heap
    *   (an Event is ~32 bytes boxed; the 1M default buffers ≲100 MB).
    *   Bot-traffic keys that legitimately exceed it should be split out
    *   or pre-aggregated — or use [[sessionizeSorted]] (batch) /
    *   the SQL-window sessionization (`stream_sessionize`), both of
    *   which sort via the spillable ExternalSorter.
    */
  def sessionize(ds: Dataset[Event], gapSeconds: Long,
      emitOpen: Boolean = true,
      maxGroupEvents: Int = 1000000): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (userId: Long, events: Iterator[Event], state: GroupState[SessionState]) =>
          val buf = scala.collection.mutable.ArrayBuffer.empty[Event]
          while (events.hasNext) {
            if (buf.length >= maxGroupEvents)
              throw new IllegalStateException(
                s"sessionize: user $userId has > $maxGroupEvents events in one " +
                  "batch (hot key); raise maxGroupEvents, pre-aggregate, or use " +
                  "the SQL-window sessionization which spills")
            buf += events.next()
          }
          val sorted = buf.sortBy(e => (e.tsMicros, e.event_id))
          var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          sorted.foreach { e =>
            if (st.lastTs != Long.MinValue && e.tsMicros - st.lastTs > gapMicros) {
              out += SessionOut(userId, st.sessionId, st.n)
              st = SessionState(st.sessionId + 1, e.tsMicros, 1L)
            } else {
              st = SessionState(st.sessionId, e.tsMicros,
                if (st.lastTs == Long.MinValue) 1L else st.n + 1)
            }
          }
          state.update(st)
          if (emitOpen && sorted.nonEmpty && st.n > 0) {
            out += SessionOut(userId, st.sessionId, st.n)
          }
          out.iterator
      }
  }

  /** Event with a real timestamp column for watermarking (micros
    * mirrored into `event_ts`); the streaming sessionizer's input type. */
  case class EventT(user_id: Long, event_id: Long, tsMicros: Long,
      value: Double, event_ts: java.sql.Timestamp)

  /** STREAMING-proper sessionization: [[sessionize]] with
    * `emitOpen = false` emits a session only when a LATER event proves
    * the gap — the trailing session of every user stays open forever.
    * This variant closes it with an EVENT-TIME TIMEOUT: state carries
    * the open session plus a timeout at `lastTs + gap`; once the
    * watermark passes it, the group fires with `hasTimedOut` and the
    * session is emitted and cleared. Late events beyond the watermark
    * are dropped by the engine — the same contract as every watermarked
    * op here.
    *
    * State per user is O(1) (the open session triple), bounded overall
    * by active users within the watermark horizon plus a bounded
    * tombstone tail: after a session times out the state is KEPT as a
    * zero-count tombstone for ~30 more gaps so a returning user's
    * session ids continue instead of restarting at 0 (which would emit
    * duplicate (user_id, session_id) keys downstream); the tombstone's
    * own timeout then removes the state entirely. The per-batch group
    * iterator is buffered and sorted like [[sessionize]] (same
    * `maxGroupEvents` hot-key guard).
    *
    * Ordering contract: events within one micro-batch are sorted before
    * processing. ACROSS batches, an admitted-but-late event older than
    * the open session's end merges into it (count only — the session
    * end never regresses) when it lies within `gap` of that end;
    * anything older cannot be attributed (its session may already have
    * been emitted) and is counted nowhere. Streams that deliver in
    * order per key match the batch twin exactly.
    */
  def sessionizeStreaming(
      ds: Dataset[EventT], gapSeconds: Long,
      watermarkDelay: String = "10 minutes",
      maxGroupEvents: Int = 1000000): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    val gcDelayMs = 30L * gapSeconds * 1000L // tombstone lifetime
    ds.withWatermark("event_ts", watermarkDelay)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, events: Iterator[EventT], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            if (st.n > 0L) {
              // watermark passed lastTs + gap: close the session, keep a
              // tombstone carrying the next session id; GC it later
              state.update(SessionState(st.sessionId + 1, st.lastTs, 0L))
              state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + gcDelayMs)
              Iterator.single(SessionOut(userId, st.sessionId, st.n))
            } else {
              state.remove() // tombstone expired: user idle past the GC horizon
              Iterator.empty
            }
          } else {
            val buf = scala.collection.mutable.ArrayBuffer.empty[EventT]
            while (events.hasNext) {
              if (buf.length >= maxGroupEvents)
                throw new IllegalStateException(
                  s"sessionizeStreaming: user $userId has > $maxGroupEvents " +
                    "events in one micro-batch (hot key); raise maxGroupEvents " +
                    "or pre-aggregate")
              buf += events.next()
            }
            val sorted = buf.sortBy(e => (e.tsMicros, e.event_id))
            var st = state.getOption.getOrElse(SessionState(0L, Long.MinValue, 0L))
            val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
            sorted.foreach { e =>
              if (st.n == 0L) {
                // fresh user or tombstone: open a session, ids continue
                st = SessionState(st.sessionId, e.tsMicros, 1L)
              } else if (e.tsMicros >= st.lastTs) {
                if (e.tsMicros - st.lastTs > gapMicros) {
                  out += SessionOut(userId, st.sessionId, st.n)
                  st = SessionState(st.sessionId + 1, e.tsMicros, 1L)
                } else {
                  st = SessionState(st.sessionId, e.tsMicros, st.n + 1)
                }
              } else if (st.lastTs - e.tsMicros <= gapMicros) {
                // cross-batch late event within gap of the session end:
                // merge by count; the end must NOT regress (a regressed
                // end would shift the timeout and future gap decisions)
                st = SessionState(st.sessionId, st.lastTs, st.n + 1)
              }
              // else: older than gap before the open session — dropped
              // (its session may already be closed and emitted)
            }
            state.update(st)
            // timeout at session end in WALL event time (ms granularity);
            // floor it above the current watermark — Spark rejects
            // timeout timestamps at or below it
            state.setTimeoutTimestamp(
              math.max(st.lastTs / 1000L + gapSeconds * 1000L,
                state.getCurrentWatermarkMs() + 1000L))
            out.iterator
          }
      }
  }

  /** [[sessionizeStreaming]] re-expressed on Spark 4's
    * `transformWithState` (the arbitrary-state API that supersedes
    * flatMapGroupsWithState): same session semantics — within-gap
    * out-of-order merge without end regression, older-than-gap events
    * dropped, session ids continue across timeouts via a tombstone —
    * with the state decomposed into named TYPED slots (session
    * ValueState + registered-timer ValueState) instead of one opaque
    * blob, and explicit event-time TIMERS replacing the single
    * setTimeoutTimestamp slot (delete-then-register models the same
    * "one live timeout per key" contract; stale-timer firings are
    * ignored by checking against the recorded timer). Requires the
    * RocksDB state-store provider — the at-scale backend
    * (StreamingSpec already exercises it for the fMGWS variant).
    *
    * Output equivalence with [[sessionizeStreaming]] on the same input
    * is asserted in StreamingSpec. */
  def sessionizeTws(
      ds: Dataset[EventT], gapSeconds: Long,
      watermarkDelay: String = "10 minutes",
      maxGroupEvents: Int = 1000000): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    ds.withWatermark("event_ts", watermarkDelay)
      .groupByKey(_.user_id)
      .transformWithState(
        new SessionTwsProcessor(gapSeconds, maxGroupEvents),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** The [[sessionizeTws]] state processor (top-level class: it is
    * serialized into the streaming query). */
  private[streaming] class SessionTwsProcessor(
      gapSeconds: Long, maxGroupEvents: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, EventT, SessionOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}

    private val gapMicros = gapSeconds * 1000000L
    private val gcDelayMs = 30L * gapSeconds * 1000L

    @transient private var session: ValueState[SessionState] = _
    @transient private var timerMs: ValueState[Long] = _

    override def init(outputMode: OutputMode,
        timeMode: org.apache.spark.sql.streaming.TimeMode): Unit = {
      session = getHandle.getValueState[SessionState](
        "session", E.product[SessionState], TTLConfig.NONE)
      timerMs = getHandle.getValueState[Long]("timerMs", E.scalaLong, TTLConfig.NONE)
    }

    /** One live timer per key: drop the recorded one, register the new. */
    private def rearm(newTimer: Long): Unit = {
      if (timerMs.exists()) getHandle.deleteTimer(timerMs.get())
      getHandle.registerTimer(newTimer)
      timerMs.update(newTimer)
    }

    override def handleInputRows(userId: Long, events: Iterator[EventT],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val buf = scala.collection.mutable.ArrayBuffer.empty[EventT]
      while (events.hasNext) {
        if (buf.length >= maxGroupEvents)
          throw new IllegalStateException(
            s"sessionizeTws: user $userId has > $maxGroupEvents events " +
              "in one micro-batch (hot key); raise maxGroupEvents or pre-aggregate")
        buf += events.next()
      }
      val sorted = buf.sortBy(e => (e.tsMicros, e.event_id))
      var st = if (session.exists()) session.get() else SessionState(0L, Long.MinValue, 0L)
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      sorted.foreach { e =>
        if (st.n == 0L) {
          st = SessionState(st.sessionId, e.tsMicros, 1L)
        } else if (e.tsMicros >= st.lastTs) {
          if (e.tsMicros - st.lastTs > gapMicros) {
            out += SessionOut(userId, st.sessionId, st.n)
            st = SessionState(st.sessionId + 1, e.tsMicros, 1L)
          } else {
            st = SessionState(st.sessionId, e.tsMicros, st.n + 1)
          }
        } else if (st.lastTs - e.tsMicros <= gapMicros) {
          st = SessionState(st.sessionId, st.lastTs, st.n + 1)
        }
        // else: older than gap before the open session — dropped
      }
      session.update(st)
      rearm(math.max(st.lastTs / 1000L + gapSeconds * 1000L,
        timerValues.getCurrentWatermarkInMs() + 1000L))
      out.iterator
    }

    override def handleExpiredTimer(userId: Long, timerValues: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      // ignore firings of timers we already superseded
      if (!timerMs.exists() || timerMs.get() != expired.getExpiryTimeInMs())
        return Iterator.empty
      val st = session.get()
      timerMs.clear() // the fired timer is no longer registered
      if (st.n > 0L) {
        // close the session; tombstone carries the next session id
        session.update(SessionState(st.sessionId + 1, st.lastTs, 0L))
        rearm(timerValues.getCurrentWatermarkInMs() + gcDelayMs)
        Iterator.single(SessionOut(userId, st.sessionId, st.n))
      } else {
        session.clear(); timerMs.clear()
        Iterator.empty
      }
    }
  }

  /** Spillable BATCH sessionization: identical semantics to the batch
    * path of [[sessionize]] (session ids per user start at 0; a new
    * session after a gap > `gapSeconds`; the trailing open session is
    * emitted) but with NO per-group buffer — so a hot key cannot OOM a
    * task, no matter how many events it has.
    *
    * How: hash-repartition by user, then `sortWithinPartitions(user, ts,
    * event_id)` — Spark's spillable external sort does the ordering —
    * then one streaming pass over each partition holding O(1) state
    * (current user, session id, last ts, count). This is the secondary
    * sort pattern: the engine sorts, the operator only scans. Use this
    * for batch corpora with unbounded per-user event counts; keep
    * [[sessionize]] for streaming, where cross-micro-batch state needs
    * flatMapGroupsWithState. */
  def sessionizeSorted(ds: Dataset[Event], gapSeconds: Long): Dataset[SessionOut] = {
    import ds.sparkSession.implicits._
    val gapMicros = gapSeconds * 1000000L
    ds.repartition(col("user_id"))
      .sortWithinPartitions(col("user_id"), col("tsMicros"), col("event_id"))
      .mapPartitions { events =>
        new Iterator[SessionOut] {
          private var pending: SessionOut = _
          private var open = false      // a session is accumulating
          private var curUser = 0L
          private var sessionId = 0L
          private var lastTs = 0L
          private var n = 0L
          private def close(): SessionOut = SessionOut(curUser, sessionId, n)
          private def fill(): Unit = {
            while (pending == null && events.hasNext) {
              val e = events.next()
              if (!open) {
                open = true; curUser = e.user_id; sessionId = 0L
                lastTs = e.tsMicros; n = 1L
              } else if (e.user_id != curUser) {
                pending = close()
                curUser = e.user_id; sessionId = 0L; lastTs = e.tsMicros; n = 1L
              } else if (e.tsMicros - lastTs > gapMicros) {
                pending = close()
                sessionId += 1; lastTs = e.tsMicros; n = 1L
              } else {
                lastTs = e.tsMicros; n += 1L
              }
            }
            if (pending == null && open) { pending = close(); open = false }
          }
          override def hasNext: Boolean = { fill(); pending != null }
          override def next(): SessionOut = {
            fill()
            if (pending == null) throw new NoSuchElementException("empty partition")
            val r = pending; pending = null; r
          }
        }
      }
  }
}
