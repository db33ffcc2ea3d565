package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Deduplication for training-data pipelines (north-star extension):
  * exact, MinHash-LSH, SimHash, and n-gram-Jaccard near-dup detection.
  *
  * Scale design: nothing here compares all pairs. Exact dedup is one
  * hash-partitioned window; MinHash and SimHash meet candidates only
  * inside LSH band buckets (candidate count ∝ true-duplicate count, not
  * N²); Jaccard joins only docs sharing a token. All signatures are
  * per-row column expressions (codegen, linear scan, no UDF).
  */
object DedupOps {

  /** Default per-bucket candidate-PAIR budget for the LSH degeneracy
    * caps (≈707 docs per bucket). The budget is expressed in pairs, not
    * docs, because a bucket of n docs costs n·(n-1)/2 pairs — quadratic —
    * so a doc-count cap understates the admitted cost by orders of
    * magnitude near the cap. */
  val DefaultMaxBucketPairs: Long = 250000L

  /** Largest bucket doc count whose pair count n·(n-1)/2 stays within
    * `maxPairs` — computed ON THE DRIVER in exact BigInt arithmetic, so
    * the per-bucket filter compares plain counts and cannot overflow:
    * an in-plan `_bn * (_bn - 1) / 2` wraps negative past ~3e9 docs
    * (or throws under ANSI), silently ADMITTING the most degenerate
    * buckets — the exact case the cap exists for. */
  private[ops] def maxDocsForPairBudget(maxPairs: Long): Long = {
    require(maxPairs >= 0, s"pair budget must be non-negative, got $maxPairs")
    // floor((1 + sqrt(1 + 8B)) / 2); verify exactly with BigInt and
    // correct any sqrt rounding drift
    var n = ((1.0 + math.sqrt(1.0 + 8.0 * maxPairs.toDouble)) / 2.0).toLong
    def pairs(k: Long): BigInt = BigInt(k) * (k - 1) / 2
    while (pairs(n) > maxPairs) n -= 1
    while (pairs(n + 1) <= maxPairs) n += 1
    n
  }

  /** Exact dedup: keep one deterministic winner (min tieBreaker) per key.
    * `dropDuplicates` keeps an arbitrary row — unacceptable for
    * reproducible pipelines, so this is a window + row_number instead. */
  def exactDedup(df: DataFrame, keyCols: Seq[String], tieBreaker: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*).orderBy(col(tieBreaker))
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }

  /** Token n-gram shingles of a text column (strings). Short docs
    * (< n tokens) produce their whole text as a single shingle. */
  def shingles(text: Column, n: Int = 3): Column = {
    val toks = split(lower(text), "\\s+")
    when(size(toks) < n, array(concat_ws(" ", toks)))
      .otherwise(transform(
        sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + 1, lit(n)))))
  }

  /** MinHash signature: numHashes independent min-hashes of the shingle
    * set. Structured as ONE left-fold over the shingles so the shingle
    * array is evaluated exactly once per row regardless of what
    * CollapseProject inlines (a per-seed `array_min(transform(sh, …))`
    * form re-evaluates the whole shingle construction numHashes× — a
    * measured 60× slowdown, because higher-order functions run
    * interpreted). Each shingle STRING is hashed once; the numHashes
    * variants are derived by cheap long-rehash h_i = xxhash64(h0, i).
    *
    * This HOF form is the portable/reference implementation; the hot path
    * (`minhashCandidatePairs`) uses the bit-identical codegen expression
    * `graft.expressions.MinHashSig` (HOF folds run interpreted and
    * allocate a fresh 64-wide array per shingle — a measured ~10×
    * signature-pass slowdown vs the native loop). */
  def minhashSignatureFromShingles(sh: Column, numHashes: Int = 64): Column = {
    val shingleHashes = transform(sh, s => xxhash64(s))
    val seeds = array((0 until numHashes).map(lit): _*) // literal: no per-shingle rebuild
    aggregate(
      shingleHashes,
      array_repeat(lit(Long.MaxValue), numHashes),
      (acc, h) => zip_with(acc, transform(seeds, i => xxhash64(h, i)),
        (a, v) => least(a, v)))
  }

  /** Convenience single-expression form. */
  def minhashSignature(text: Column, numHashes: Int = 64, shingleN: Int = 3): Column =
    minhashSignatureFromShingles(shingles(text, shingleN), numHashes)

  /** LSH band hashes: split the signature into `bands` bands of
    * numHashes/bands rows each; band hash = xxhash64 over (slice, band
    * index). Docs sharing ANY band hash are candidates. */
  def lshBands(sig: Column, numHashes: Int = 64, bands: Int = 16): Column = {
    require(bands > 0 && bands <= numHashes && numHashes % bands == 0,
      s"bands ($bands) must evenly divide numHashes ($numHashes) — " +
        "otherwise trailing hashes are silently ignored (or, for " +
        "bands > numHashes, every band hashes an empty slice and all " +
        "documents collide everywhere)")
    val rows = numHashes / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => xxhash64(slice(sig, b * rows + 1, lit(rows)), b))
  }

  /** Candidate near-dup pairs via MinHash LSH, scored by the signature
    * agreement estimate of Jaccard (fraction of equal minhashes).
    * Returns (id_a, id_b, est_jaccard) with est ≥ `estThreshold`.
    *
    * EAGER by default: the pair set is computed at call time
    * (localCheckpoint) so the corpus-sized signature cache is
    * unpersisted before this returns — repeated calls in a long-lived
    * session leave nothing cached behind. CLUSTER CAVEAT: localCheckpoint
    * blocks until materialized and stores blocks on executors with NO
    * lineage to rebuild them — an executor loss or dynamic-allocation
    * decommission AFTER the call makes the returned frame unrecoverable
    * (job failure on next use). On clusters that lose executors
    * routinely, pass `eager = false` for a fully lazy plan (no persist,
    * no checkpoint: the signature scan recomputes per reference —
    * ~3 passes — but every block stays rebuildable), or persist the
    * eager result to reliable storage yourself. */
  def minhashCandidatePairs(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      estThreshold: Double = 0.5,
      maxBucketPairs: Long = DefaultMaxBucketPairs,
      eager: Boolean = true): DataFrame = {
    // persist (eager mode): the signature pass is referenced by the
    // banding branch AND both scoring joins — without caching Spark
    // would recompute the tokenize+signature scan three times over the
    // corpus. In lazy mode the recompute is the accepted price of
    // keeping every block lineage-rebuildable.
    graft.expressions.GraftFunctions.register(df.sparkSession)
    // tokens → shingles → 64 min-hashes in ONE fused codegen loop
    // (MinHashShingleSig): the interpreted HOF shingle construction alone
    // was ~75% of this operator's runtime before fusing
    val sigsPlan = df
      .select(col(idCol).as("id"),
        call_function("minhash_shingle_sig",
          split(lower(col(textCol)), "\\s+"), lit(numHashes), lit(shingleN)).as("sig"))
    val sigs =
      if (eager) sigsPlan.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else sigsPlan

    // The band join carries ONLY (id, band_hash): hot band buckets (a
    // stop-shingle dominating the min statistic on vocabulary-limited
    // corpora) would otherwise evaluate the 64-wide signature comparison
    // once per COLLISION; here collisions cost two longs each, the pair
    // set is distinct'd, and each unique pair is scored exactly once.
    val banded = sigs.select(col("id"),
      explode(lshBands(col("sig"), numHashes, bands)).as("band_hash"))
    // degeneracy cap: a hot band bucket is a stopword artifact, not
    // duplication signal — skip it (standard LSH practice; keeps the
    // worst case linear instead of quadratic). The cap is a PAIR budget,
    // not a doc count: a bucket of n docs emits n(n-1)/2 candidate
    // pairs, so the cost of admitting a bucket is quadratic in its size —
    // a doc-count cap of 10k would admit ~5·10⁷ pairs from one near-cap
    // bucket while reporting healthy. The DEGENERATE set is found with a
    // partial-aggregated count (map-side combine absorbs the hot key —
    // no single task ever buffers the hot bucket) and is tiny by
    // construction, so it broadcasts: the anti join prunes `banded`
    // WITHOUT shuffling it.
    val maxBucketDocs = maxDocsForPairBudget(maxBucketPairs)
    val degenerate = banded.groupBy(col("band_hash"))
      .agg(count(lit(1)).as("_bn"))
      .filter(col("_bn") > maxBucketDocs) // doc threshold ⇔ pair budget, overflow-proof
      .select(col("band_hash"))
    val pruned = banded.join(broadcast(degenerate), Seq("band_hash"), "left_anti")
    val cand = pruned.as("a").join(pruned.as("b"), Seq("band_hash"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

    val scored = cand
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"),
          (x, y) => (x === y).cast(IntegerType)), v => v === 1))
          .cast(DoubleType) / numHashes)
      .filter(col("est_jaccard") >= estThreshold)
      .select(col("id_a"), col("id_b"), col("est_jaccard"))

    // Eager: materialize the result NOW (it is small: ∝ true-duplicate
    // count, bounded by the pair budget) so the corpus-sized signature
    // cache can be released before returning — a lazy return would leak
    // the persist into the session for the caller to clean up (or
    // never). The localCheckpoint'd result is dropped automatically by
    // the ContextCleaner once the returned frame is unreachable. (See
    // the scaladoc for the executor-loss caveat and the lazy variant.)
    if (eager) {
      val out = scored.localCheckpoint(true)
      sigs.unpersist(blocking = false)
      out
    } else scored
  }

  /** Exact shingle-set Jaccard for an explicit candidate-pair frame —
    * the estimator check for [[minhashCandidatePairs]]: join each
    * (id_a, id_b) back to its distinct shingle set and compute
    * |∩| / |∪| exactly. Cost is linear in the pair count (the pair set
    * is duplication-sized, not corpus-sized), so this turns the
    * "trust me" hash tier into a checked estimator wherever it runs.
    * Input pair columns and the returned `jaccard` ride alongside
    * whatever else `pairs` carries (e.g. est_jaccard). */
  def exactJaccardForPairs(
      pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3): DataFrame = {
    val sets = docs.select(col(idCol).as("id"),
      array_distinct(shingles(col(textCol), shingleN)).as("sh"))
    pairs
      .join(sets.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(sets.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .withColumn("jaccard",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))))
      .drop("sh_a", "sh_b")
  }

  /** 64-bit SimHash over tokens: per bit position, sum ±1 across token
    * hashes, take the sign bit; packed to one Long by an exact integer
    * fold. Near-identical docs differ in few bits (small hamming).
    *
    * HOF reference form; `simhashDupPairs` uses the bit-identical codegen
    * expression `graft.expressions.SimHashSig` on the hot path. */
  def simhash(text: Column): Column = {
    // hash each token ONCE (an earlier version recomputed xxhash64 per
    // bit — 64× the hashing work, and higher-order functions evaluate
    // interpreted, so constant factors matter here)
    val hashes = transform(split(lower(text), "\\s+"), t => xxhash64(t))
    val masks = array((0 until 64).map(i => lit(1L << i)): _*)
    val counts = aggregate(
      hashes,
      array_repeat(lit(0L), 64),
      (acc, h) => zip_with(acc, masks,
        (c, m) => c + when(h.bitwiseAND(m) =!= 0L, lit(1L)).otherwise(lit(-1L))))
    // pack sign bits with bitwise OR of literal masks — `acc*2+bit` would
    // hit the sign bit and trip ANSI-mode overflow on the 64th bit
    aggregate(
      zip_with(counts, masks, (c, m) => when(c > 0, m).otherwise(lit(0L))),
      lit(0L), (acc, v) => acc.bitwiseOR(v))
  }

  /** Hamming distance between two packed 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Near-dup pairs over a 64-char '0'/'1' BIT-STRING signature column —
    * the perceptual-hash (dHash/pHash) form of [[simhashDupPairs]]'
    * banded-hamming blocking, for signatures carried as portable bit
    * strings (bit 63 of a packed BIGINT would be the sign bit, see
    * [[graft.ops.MultimodalOps.dhashBits]]). Blocking: a pair within
    * hamming ≤ 3 of 64 bits must agree EXACTLY on ≥ 1 of the 4 16-bit
    * segments (pigeonhole), so bucketing on (segment index, segment
    * substring) finds every qualifying pair with one equi-join — never
    * all-pairs; chance 16-bit collisions cost ~N²/2¹⁶ verified-and-
    * dropped candidates. Verification is exact: each segment parses to
    * a 16-bit int (conv base 2) and the hamming distance is the sum of
    * the four segment `bit_count(xor)`s — integer arithmetic, bit-exact
    * cross-engine. Output: (id_a, id_b, hamming) with id_a < id_b.
    *
    * 100 TB shape: one shuffle at the (segment, value) bucket grain over
    * 4 slim rows per signature; signatures are 64 chars regardless of
    * media size (the decode already reduced pixels to the hash), so the
    * join input is O(N), and the hamming ≤ 3 filter bounds the output
    * to the true near-dup pair set. */
  def bitstringDupPairs(
      df: DataFrame, idCol: String, bitsCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming <= 3,
      s"4-segment LSH over 64 bits covers maxHamming <= 3, got $maxHamming")
    val sigs = df.select(col(idCol).as("id"), col(bitsCol).as("bits"))
    def seg(bits: Column, ci: Int): Column =
      conv(substring(bits, ci * 16 + 1, 16), 2, 10).cast(LongType)
    val chunked = sigs.select(col("id"), col("bits"),
      explode(array((0 until 4).map(ci =>
        concat_ws("_", lit(ci.toString),
          substring(col("bits"), ci * 16 + 1, 16))): _*)).as("chunk_key"))
    val hamming = (0 until 4).map(ci =>
      bit_count(seg(col("bits_a"), ci).bitwiseXOR(seg(col("bits_b"), ci))))
      .reduce(_ + _)
    chunked.as("a").join(chunked.as("b"), Seq("chunk_key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.bits").as("bits_a"), col("b.bits").as("bits_b"))
      .distinct()
      .withColumn("hamming", hamming.cast(IntegerType))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Near-dup pairs by SimHash: bucket on 16-bit chunks (a pair within
    * hamming ≤ 3 of 64 bits must agree on ≥1 of the 4 chunks —
    * pigeonhole), then verify exact hamming inside the bucket. */
  def simhashDupPairs(
      df: DataFrame, idCol: String, textCol: String,
      maxHamming: Int = 3): DataFrame = {
    // pigeonhole over 4 chunks only guarantees a shared chunk for
    // hamming <= 3; a larger radius would silently miss pairs
    require(maxHamming >= 0 && maxHamming <= 3,
      s"chunk LSH with 4 chunks covers maxHamming <= 3, got $maxHamming")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val sigs = df.select(col(idCol).as("id"),
      call_function("simhash_sig", split(lower(col(textCol)), "\\s+")).as("sig"))
    val chunked = sigs.select(col("id"), col("sig"),
      explode(array((0 until 4).map(ci =>
        concat_ws("_", lit(ci.toString),
          shiftrightunsigned(col("sig"), ci * 16)
            .bitwiseAND(lit(0xFFFFL)).cast(StringType))): _*)).as("chunk_key"))
    chunked.as("a").join(chunked.as("b"), Seq("chunk_key"))
      .filter(col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .withColumn("hamming", hamming64(col("sig_a"), col("sig_b")))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact token/shingle-set Jaccard for candidate pairs sharing ≥1
    * element. Integer set sizes, one IEEE division — engine-exact.
    *
    * @param shingleN 1 = unigram token sets; >1 = n-gram shingle sets
    *   (far fewer hot-element collisions on natural text)
    * @param maxBucketPairs elements whose bucket would emit more than
    *   this many candidate pairs (n·(n-1)/2 for n sharing docs —
    *   stopwords) are excluded from candidate generation; without the
    *   cap a single ubiquitous token joins ~N²/2 pairs. Pair-shaped so
    *   the admitted cost is bounded even when many buckets sit just
    *   under the threshold.
    */
  /** Connected components over a duplicate-candidate pair list: assigns
    * every node the MINIMUM id reachable through the pair graph — the
    * canonical "cluster id" that turns pairwise near-dup hits (MinHash /
    * SimHash / Jaccard / cosine pairs) into dedup GROUPS, so "keep one
    * doc per cluster" is a plain `filter(id === cluster_id)` (or any
    * per-cluster winner rule) afterwards.
    *
    * Algorithm: Pregel-style min-label propagation. Labels start as the
    * node's own id; each round every node takes the min of its own label
    * and its neighbours' (one equi-join edges⋈labels + one min-agg = two
    * shuffles per round), until a fixpoint. From round 3 each round
    * ALSO applies one pointer-doubling step (label(v) ←
    * prev(label(v)), see the loop body), so rounds = O(log diameter) —
    * not diameter: a label learned from a neighbor is chased one hop
    * further along the previous round's label forest, doubling the
    * propagation distance per round. Near-dup clusters (near-cliques
    * around a shared template) converge in ≤ 3 rounds and never pay
    * the shortcut join; an adversarial CHAIN of length 60 converges in
    * 8 rounds (the r17 DedupSpec pin) and `maxIterations` is a safety
    * rail, not a budget. (The alternating large-star/small-star
    * algorithm [Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14] is the same O(log n) class with a higher
    * per-round constant — kept as [[connectedComponentsLargeStar]] for
    * the independent-implementation catalog twin.)
    *
    * Scale mechanics, per round: the edge list is the big side and is
    * REUSED unshuffled every round when `partitions` is set (it arrives
    * pre-hash-partitioned on `dst` — the per-round JOIN key — so the
    * join re-uses that layout: one exchange at entry, zero after);
    * labels (one slim row per node) are the small side. Lineage is
    * truncated each round with an eager `localCheckpoint` — without it
    * the plan doubles per iteration and the driver re-plans the whole
    * history every round — and each superseded generation's blocks are
    * released deterministically ([[releaseCheckpoint]]) rather than
    * left to the ContextCleaner: at corpus scale, rounds × label-set
    * generations would otherwise stack in executor storage. (Caveat as
    * in [[minhashCandidatePairs]]: localCheckpoint blocks live on
    * executors — on executor loss the job fails and restarts rather
    * than silently recomputing. On clusters that lose executors
    * routinely — preemptible/spot fleets, aggressive dynamic
    * allocation — pass `checkpointDir` to switch every truncation point
    * to a RELIABLE `checkpoint` on shared storage: executor loss then
    * costs a recompute of at most one round, never the job.)
    *
    * Convergence probe: labels are MONOTONE non-increasing, so the
    * label SUM (exact, DECIMAL(38,0) accumulator — a double would stop
    * early on rounding ties at corpus scale) is strictly decreasing
    * until the fixpoint and constant at it. Comparing one scalar per
    * round replaces the usual changed-rows self-join, and since r18 the
    * scalar rides the round's OWN materialize job as an `observe`
    * metric — one action per round, no separate probe scan at all.
    *
    * Output: (`idCol`, cluster_id) for every node in `nodes` (singletons
    * cluster as themselves) and every id appearing in `pairs`.
    */
  def connectedComponents(
      nodes: DataFrame, pairs: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIterations: Int = 25,
      partitions: Int = 0,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIterations > 0, "maxIterations must be positive")
    setupCheckpointDir(nodes, checkpointDir)
    // symmetric, de-duplicated edge list: propagation must flow both
    // ways along a pair, and duplicate candidate pairs (a pair found by
    // several LSH bands) must not inflate the join
    val sym = pairs.select(col(srcCol).cast(LongType).as("src"),
        col(dstCol).cast(LongType).as("dst"))
      .union(pairs.select(col(dstCol).cast(LongType).as("src"),
        col(srcCol).cast(LongType).as("dst")))
      .filter(col("src").isNotNull && col("dst").isNotNull && col("src") =!= col("dst"))
      .distinct()
    // pre-partition on dst — the per-round join key — so the edge list
    // is shuffled ONCE here and every round's join reuses the layout.
    // Deliberately OPT-IN (r17, measured): defaulting it to the
    // session's shuffle partitioning pinned every per-round join to a
    // fixed P and disabled AQE's partition coalescing, which costs
    // more at bench scale than the per-round edge exchange it saves
    // (dedup_cluster_cc 1.27 → 1.63 s min) — set `partitions` on real
    // clusters where the edge list dwarfs the label frame.
    val edges =
      if (partitions > 0)
        materializeKeyed(sym.repartition(partitions, col("dst")), checkpointDir)
      else materialize(sym, checkpointDir)
    // Convergence probe FOLDED INTO the materialize (r17 verdict ask
    // #3): the label-sum statistic rides the checkpoint's own job as an
    // `observe` metric (CollectMetrics is a row-passthrough; checkpoint
    // runs through Dataset.withAction, which fires the observation), so
    // each round costs exactly ONE job — previously the sum was a
    // second full-scan action per round over the just-checkpointed
    // frame, which at 100 TB is an extra label-frame pass per round.
    // Sum over ZERO rows is SQL NULL — an empty corpus (every doc
    // filtered upstream) must converge immediately, not NPE.
    def materializeWithSum(df: DataFrame): (DataFrame, java.math.BigDecimal) = {
      val obs = org.apache.spark.sql.Observation()
      val out = materialize(
        df.observe(obs, sum(col("cluster_id").cast(DecimalType(38, 0)))
          .as("label_sum")),
        checkpointDir)
      val s = Option(obs.get("label_sum"))
        .collect { case d: java.math.BigDecimal => d }
        .getOrElse(java.math.BigDecimal.ZERO)
      (out, s)
    }
    // label init: declared nodes ∪ every edge endpoint, so a pair list
    // mentioning an id missing from `nodes` still clusters correctly
    val endpoints = edges.select(col("src").as("id"))
    var (labels, prevSum) = materializeWithSum(
      nodes.select(col(idCol).cast(LongType).as("id"))
        .union(endpoints).distinct()
        .withColumn("cluster_id", col("id")))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      val neighbourMin = edges.join(labels, edges("dst") === labels("id"))
        .select(edges("src").as("id"), col("cluster_id"))
        .groupBy("id")
        .agg(min(col("cluster_id")).as("nb_min"))
      // POINTER DOUBLING (label shortcutting), engaged ADAPTIVELY from
      // round 3: after folding the neighborhood minimum in, chase the
      // result one hop through the PREVIOUS round's label map —
      // label(v) ← prev(min(label(v), nb_min(v))). Every label value is
      // the id of a node in the same component (init label = id; min
      // over component members stays a member) and prev() is defined on
      // the whole domain, so labels stay monotone non-increasing and
      // the fixpoint (component min everywhere) is UNCHANGED — but once
      // engaged, the distance a label travels per round DOUBLES:
      // rounds go O(diameter) → O(log diameter). Chasing through
      // `labels` (the round's input, ALREADY materialized) keeps the
      // round at ONE materialize and ONE edge-join pass; the shortcut
      // is one extra node-grain equi-join (one exchange) inside the
      // same plan. Adaptivity: near-dup graphs are near-cliques that
      // converge in ≤ 3 rounds where the shortcut can't help (round 1
      // prev = identity; rounds 2-3 it saves nothing on D ≤ 3), so the
      // first two rounds run the plain merge and pay ZERO extra — only
      // a graph still unconverged at round 3 (deep components) buys the
      // doubling. Measured: dedup_cluster_cc_chain (diameter 24)
      // 25 rounds → 7; near-clique keys keep their pre-r17 plan
      // exactly. prev(m) ≤ m always (monotonicity), so the coalesce
      // never picks a larger label; the left join is belt-and-braces
      // for the in-domain invariant (an inner join would be equivalent).
      val merged = labels.join(neighbourMin, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster_id"), coalesce(col("nb_min"), col("cluster_id")))
            .as("_m"))
      val stepped =
        if (iter < 2) merged.select(col("id"), col("_m").as("cluster_id"))
        else merged
          .join(labels.select(col("id").as("_pid"),
            col("cluster_id").as("_pcid")),
            col("_m") === col("_pid"), "left")
          .select(col("id"),
            coalesce(col("_pcid"), col("_m")).as("cluster_id"))
      val (next, nextSum) = materializeWithSum(stepped)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      releaseCheckpoint(labels) // superseded generation: free its blocks now
      labels = next
      iter += 1
    }
    releaseCheckpoint(edges) // the returned frame no longer needs them
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIterations rounds — " +
          "component diameter exceeds the iteration rail (chain-shaped " +
          "graph?); raise maxIterations or switch to large-star/small-star")
    labels.select(col("id").as(idCol), col("cluster_id"))
  }

  /** Lineage-truncation seam for the iterative algorithms: RELIABLE
    * `checkpoint` against a real checkpoint dir when one is given (files
    * on shared storage survive executor loss — the preemptible-cluster
    * mode), `localCheckpoint` otherwise (executor-local blocks: faster,
    * but an executor loss kills every superseded generation's blocks
    * with no lineage to rebuild — fine single-node / on stable
    * clusters). Both are eager, so per-round convergence probes never
    * recompute. */
  private[graft] def materialize(df: DataFrame, checkpointDir: Option[String]): DataFrame =
    if (checkpointDir.isDefined) df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** [[materialize]] for a KEY-PARTITIONED frame whose layout the
    * caller wants downstream joins to REUSE (the opt-in `partitions`
    * seam on the iterative operators): the checkpoint must be planned
    * with AQE off, because `AdaptiveSparkPlanExec` reports
    * `UnknownPartitioning` to `LogicalRDD.fromDataset` (measured: with
    * AQE on, a `repartition(P, key).localCheckpoint()` frame loses its
    * hashpartitioning and every per-round join re-shuffles the edge
    * bytes — exactly what the seam exists to avoid). Scoped: the
    * session flag is restored in a finally, and only the opt-in
    * partitions>0 paths call this, so default plans keep AQE everywhere. */
  private[graft] def materializeKeyed(df: DataFrame, checkpointDir: Option[String]): DataFrame = {
    val conf = df.sparkSession.conf
    val key = "spark.sql.adaptive.enabled"
    val prev = conf.get(key)
    conf.set(key, "false") // known session-conf flip: AQE off for the keyed checkpoint
    try materialize(df, checkpointDir)
    finally conf.set(key, prev) // known session-conf flip: restore AQE
  }

  /** Point the context at the reliable checkpoint dir (a no-op rebind if
    * already set to the same path). NOTE the dir is context-GLOBAL in
    * Spark and the caller owns its lifecycle: superseded generations'
    * files are reclaimed by the ContextCleaner only with
    * `spark.cleaner.referenceTracking.cleanCheckpoints=true`, otherwise
    * delete the dir after the job. */
  private[graft] def setupCheckpointDir(df: DataFrame, dir: Option[String]): Unit =
    dir.foreach(d => df.sparkSession.sparkContext.setCheckpointDir(d))

  /** Deterministically release a `localCheckpoint(true)`'d frame's
    * blocks. Reassigning the reference leaves them to the
    * ContextCleaner, which frees at GC time — unbounded generations of
    * an iterative algorithm's state can stack in executor storage
    * before then. Safe on frames that carry no checkpoint (no-op —
    * including reliable-checkpoint frames, whose generations live as
    * files under the checkpoint dir, not as storage blocks). */
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.collect {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
    }.foreach(_.unpersist(blocking = false))

  /** Connected components via alternating LARGE-STAR / SMALL-STAR
    * [Kiveris et al., "Connected Components in MapReduce and Beyond",
    * SoCC'14] — the O(log n)-round alternative to
    * [[connectedComponents]]' min-label propagation, for graphs whose
    * components may be CHAIN-shaped (diameter ≫ log n), where label
    * propagation needs diameter rounds and trips its iteration rail.
    * Near-dup graphs rarely chain (components cluster around shared
    * templates), so min-label with its lower per-round constant stays
    * the default; this is the documented upgrade path, now implemented.
    *
    * Per round (two phases, each = one groupBy + one join over the edge
    * list, same shuffle shape as a min-label round):
    *  - large-star: every node's neighbors LARGER than it re-attach to
    *    its neighborhood minimum (incl. itself),
    *  - small-star: on larger→smaller oriented edges, every node and
    *    its smaller neighbors re-attach to the minimum.
    * The edge list contracts toward stars rooted at component minima;
    * convergence = edge set stable (count + order-invariant xxhash64
    * checksum, riding the round's materialize job as observe metrics —
    * one action per round, no separate probe scan).
    *
    * Output: (`idCol`, cluster_id), identical contract (and
    * property-tested identical results) to [[connectedComponents]]. */
  def connectedComponentsLargeStar(
      nodes: DataFrame, pairs: DataFrame,
      idCol: String, srcCol: String, dstCol: String,
      maxIterations: Int = 50,
      partitions: Int = 0,
      checkpointDir: Option[String] = None): DataFrame = {
    require(maxIterations > 0, "maxIterations must be positive")
    setupCheckpointDir(nodes, checkpointDir)
    def canon(df: DataFrame): DataFrame = df
      .filter(col("a").isNotNull && col("b").isNotNull && col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("a"), least(col("a"), col("b")).as("b"))
      .distinct()
    // Convergence signature FOLDED INTO the materialize (the r18
    // observe-probe discipline, see [[connectedComponents]]): the
    // (count, order-invariant xxhash64 checksum) pair rides the
    // checkpoint's own job as observe metrics — one action per round.
    def materializeWithSig(df: DataFrame)
        : (DataFrame, (Long, java.math.BigDecimal)) = {
      val obs = org.apache.spark.sql.Observation()
      val out = materialize(
        df.observe(obs, count(lit(1)).as("edge_n"),
          sum(xxhash64(col("a"), col("b")).cast(DecimalType(38, 0)))
            .as("edge_sig")),
        checkpointDir)
      val m = obs.get
      val sig = Option(m("edge_sig"))
        .collect { case d: java.math.BigDecimal => d }
        .getOrElse(java.math.BigDecimal.ZERO)
      (out, (m("edge_n").asInstanceOf[Long], sig))
    }
    var (e, prev) = materializeWithSig(
      canon(pairs.select(col(srcCol).cast(LongType).as("a"),
        col(dstCol).cast(LongType).as("b"))))
    var converged = false
    var iter = 0
    while (!converged && iter < maxIterations) {
      // LARGE-STAR over the symmetric view: u's larger neighbors attach
      // to m(u) = min(Γ(u) ∪ {u})
      val sym = e.select(col("a").as("u"), col("b").as("v"))
        .union(e.select(col("b").as("u"), col("a").as("v")))
      val symP = if (partitions > 0) sym.repartition(partitions, col("u")) else sym
      val lsMins = symP.groupBy(col("u"))
        .agg(least(min(col("v")), first(col("u"))).as("m"))
      val ls = symP.join(lsMins, Seq("u"))
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b"))
        .union(lsMins.select(col("u").as("a"), col("m").as("b")))
      // SMALL-STAR over larger→smaller oriented edges: u and its smaller
      // neighbors attach to m(u)
      val dir = canon(ls) // orient a > b, dedup
      val ssMins = dir.groupBy(col("a").as("u"))
        .agg(min(col("b")).as("m")) // all neighbors here are < u
      val ss = dir.join(ssMins, dir("a") === ssMins("u"))
        .select(dir("b").as("a"), col("m").as("b"))
        .union(ssMins.select(col("u").as("a"), col("m").as("b")))
      val (next, sig) = materializeWithSig(canon(ss))
      converged = sig == prev
      prev = sig
      releaseCheckpoint(e) // superseded generation: free its blocks now
      e = next
      iter += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsLargeStar did not converge in $maxIterations rounds")
    // at the fixpoint e is a star forest: (member, root). Roots and
    // singleton nodes label themselves.
    val members = e.select(col("a").as("id"), col("b").as("cluster_id"))
    val allIds = nodes.select(col(idCol).cast(LongType).as("id"))
      .union(e.select(col("a").as("id")))
      .union(e.select(col("b").as("id")))
      .distinct()
    allIds.join(members, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cluster_id"), col("id")).as("cluster_id"))
  }

  /** Sentinel substituted for NULL text before digesting in the
    * incremental-dedup family: a NULL sha2 argument yields a NULL
    * digest, and NULL join keys never match an anti join — so NULL-text
    * batch rows would ALWAYS survive the exact tier even when the corpus
    * holds NULL-text rows too, while the bloom tier's xxhash64(NULL)
    * treated them differently again. Coalescing both sides to one
    * sentinel makes NULL text dedup consistently (NULL ≡ NULL, and ≡
    * nothing else: the NUL bytes cannot appear in real documents). */
  private[ops] val NullTextSentinel = "\u0000graft:null-text\u0000"

  /** Digest used by the whole incremental-dedup family — one definition
    * so the exact and bloom tiers (and the streaming ingest composition
    * in [[graft.streaming.StreamOps]]) can never diverge on NULL
    * handling. */
  private[graft] def textDigest(textCol: String): Column =
    sha2(coalesce(col(textCol).cast(StringType), lit(NullTextSentinel)), 256)

  /** INCREMENTAL dedup: filter an incoming batch down to documents not
    * already present in an existing corpus — the shape every continuous
    * ingestion pipeline runs (today's crawl against the accumulated
    * corpus), where re-deduplicating the whole corpus per batch would
    * cost O(corpus) daily.
    *
    * Exact tier (`nearDup = false`): anti-join on `sha2(text, 256)` —
    * the shuffle carries a 64-char digest per corpus doc instead of the
    * document body (at corpus scale the bodies are the shuffle; the
    * digest stream is ~KB-per-doc smaller), and 256-bit collisions are
    * not a practical concern the way 64-bit xxhash collisions would be
    * (birthday bound ~4e9 docs for 64-bit — reachable; 2^128 is not).
    *
    * Near-dup tier (`nearDup = true`): additionally drops batch docs
    * sharing ANY MinHash LSH band with a corpus doc — candidate-level
    * (conservative: an unlucky band collision drops a novel doc with
    * probability ≈ J^(hashes/bands) per band; callers wanting
    * verification join candidates to [[exactJaccardForPairs]] first).
    * Both sides' signatures are the codegen single-pass expressions;
    * the band join carries (band_hash) only.
    *
    * Returns the surviving batch rows, schema unchanged. */
  /** In-BATCH near-dedup with [[incrementalDedup]]'s band-collision
    * criterion: a row survives iff NONE of its minhash bands is shared
    * with a lower-id row of the same frame — the deterministic min-id
    * winner rule of the exact tier, applied per band. Collisions are
    * judged against ALL rows of the frame (min id per band), NOT just
    * against survivors: a row drops even when the band's min-id row
    * was itself dropped via another band, so the pass is EXTRA
    * conservative relative to the corpus tier's sequential-arrival
    * semantics (where only already-merged docs can evict). No
    * transitive closure either way — that is [[fuzzyDedupE2E]]'s CC
    * contract. The match criterion is band collision exactly like the
    * corpus tier, so a batch merged after this pass can't introduce a
    * pair the corpus tier would have caught had they arrived in
    * separate batches. Requires unique non-null ids, same as the corpus
    * near tier. Only (id, band) pairs shuffle. */
  def inBatchNearDedup(
      df: DataFrame, idCol: String, textCol: String,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val sig = call_function("minhash_shingle_sig",
      split(lower(col(textCol)), "\\s+"), lit(numHashes), lit(shingleN))
    val bandRows = df.select(col(idCol),
      explode(lshBands(sig, numHashes, bands)).as("_band"))
    val minPerBand = bandRows.groupBy(col("_band"))
      .agg(min(col(idCol)).as("_min_id"))
    val losers = bandRows.join(minPerBand, Seq("_band"))
      .filter(col(idCol) > col("_min_id"))
      .select(col(idCol)).distinct()
    df.join(losers, Seq(idCol), "left_anti")
  }

  def incrementalDedup(
      batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      nearDup: Boolean = false,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3): DataFrame = {
    val digest = textDigest(textCol)
    val corpusH = corpus.select(digest.as("_h"))
    val exact = batch.withColumn("_h", digest)
      .join(corpusH, Seq("_h"), "left_anti")
      .drop("_h")
    if (!nearDup) exact
    else {
      graft.expressions.GraftFunctions.register(batch.sparkSession)
      // The per-id survive count below asserts _nb == bands, which is
      // only meaningful when ids are unique and non-null — a duplicated
      // id would count k·bands and silently drop EVERY row with that id
      // (and a NULL id never survives a semi join). Guard IN-PLAN: the
      // window count rides the (small, incremental) batch side and the
      // raise_error branch costs nothing on healthy ids.
      val w = Window.partitionBy(col(idCol))
      val checked = exact
        .withColumn("_idn", count(lit(1)).over(w))
        .withColumn(idCol,
          when(col(idCol).isNull || col("_idn") > 1, raise_error(concat(
            lit("incrementalDedup(nearDup=true): NULL or duplicate batch id "),
            coalesce(col(idCol).cast(StringType), lit("NULL")),
            lit("; the near-dup tier requires unique non-null ids"))))
            .otherwise(col(idCol)))
        .drop("_idn")
      // fused codegen tokenize→shingle→signature (see minhashCandidatePairs)
      def bandsOf(df: DataFrame, keep: Seq[Column]): DataFrame = {
        val sig = call_function("minhash_shingle_sig",
          split(lower(col(textCol)), "\\s+"), lit(numHashes), lit(shingleN))
        df.select(keep :+ explode(lshBands(sig, numHashes, bands)).as("_band"): _*)
      }
      // the band-membership stream carries only (id, band) / (band):
      // document bodies never shuffle in the near-dup pass
      val corpusBands = bandsOf(corpus, Nil).distinct()
      val surviving = bandsOf(checked, Seq(col(idCol)))
        .join(corpusBands, Seq("_band"), "left_anti")
        .groupBy(col(idCol)).agg(count(lit(1)).as("_nb"))
        // survive only if ALL bands missed the corpus: every one of the
        // doc's bands must come back from the anti-join
        .filter(col("_nb") === lit(bands))
        .select(col(idCol))
      checked.join(surviving, Seq(idCol), "left_semi")
    }
  }

  /** Offline half of [[incrementalDedupBloom]]: fold the corpus text
    * digests into one bloom sketch (Spark's own mergeable
    * `BloomFilterAggregate` — the codegen'd primitive behind
    * InjectRuntimeFilter, exposed as a callable function by
    * GraftExtensions) and materialize it on the driver. Same
    * fit/apply split as [[SimilarityOps.ivfFit]]: the fit is ONE
    * partial-aggregating job over the corpus (each task folds its rows
    * into a local sketch; sketches OR-merge), re-used across every
    * subsequent batch — a daily ingest fits once per corpus version,
    * not once per query. Sketch size ≈ `expectedItems`·10/8 bytes
    * (~9.6 bits/item ⇒ 1% fpp); overestimating `expectedItems` costs
    * bits, underestimating costs fpp, never correctness. */
  def bloomFitDigests(
      corpus: DataFrame, textCol: String,
      expectedItems: Long = 4000000L): Array[Byte] = {
    require(expectedItems > 0, "expectedItems must be positive")
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    corpus.select(textDigest(textCol).as("_h"))
      .agg(call_function("bloom_filter_agg",
        xxhash64(col("_h")),
        lit(expectedItems),
        lit(expectedItems * 10)).as("_bf"))
      .head().getAs[Array[Byte]](0)
  }

  /** Bloom-prefiltered exact incremental dedup — result-identical to
    * [[incrementalDedup]]`(nearDup = false)`, with a different shuffle
    * profile for the huge-batch × huge-corpus case.
    *
    * The exact tier's anti join must shuffle EVERY batch digest to meet
    * the corpus digests. Here the [[bloomFitDigests]] sketch rides the
    * plan as a BINARY LITERAL (`might_contain` requires a plan-time
    * constant — and a literal ships once per task binary, no broadcast
    * round). Batch rows the bloom rejects are DEFINITELY novel (no
    * false negatives) and bypass the join entirely; only the
    * `might_contain` hits — true dups plus the fpp sliver — continue to
    * the exact anti join that removes false positives. With a daily
    * batch that is mostly novel (the common crawl-ingest shape), the
    * anti-join shuffle shrinks from |batch| to ~|dups| + fpp·|batch|.
    *
    * The novel/confirmed split is a UNION of two branches over the
    * batch — two scans, deliberately: a single anti join with a
    * `_cand AND` condition would scan once but shuffle every batch row
    * on the digest; at corpus scale the shuffle dominates the extra
    * columnar scan by orders of magnitude. */
  def incrementalDedupBloom(
      batch: DataFrame, corpus: DataFrame,
      idCol: String, textCol: String,
      bloomSketch: Array[Byte]): DataFrame = {
    require(bloomSketch != null && bloomSketch.nonEmpty,
      "bloomSketch must be a bloomFitDigests result")
    graft.expressions.GraftFunctions.register(batch.sparkSession)
    val digest = textDigest(textCol)
    val corpusH = corpus.select(digest.as("_h"))
    val tagged = batch.withColumn("_h", digest)
      .withColumn("_cand", call_function("might_contain",
        lit(bloomSketch), xxhash64(col("_h"))))
    val novel = tagged.filter(!col("_cand")).drop("_cand", "_h")
    val confirmed = tagged.filter(col("_cand"))
      .join(corpusH, Seq("_h"), "left_anti")
      .drop("_cand", "_h")
    novel.unionByName(confirmed)
  }

  /** Benchmark DECONTAMINATION: count, per corpus document, how many of
    * its distinct word n-grams also appear in a benchmark/eval set —
    * the standard guard against test-set leakage into training data
    * (docs with `n_overlap >= minOverlap` get quarantined or dropped by
    * the caller).
    *
    * Scale shape: the benchmark side is SMALL by nature (eval suites,
    * not corpora) — its distinct shingle set is broadcast, and the
    * corpus side is filtered by a broadcast LEFT SEMI join on the
    * exploded shingle stream BEFORE anything shuffles: only shingles
    * that actually hit the benchmark survive to the per-doc count, so
    * the one shuffle in the plan carries (doc_id) rows proportional to
    * the contamination, not the corpus. The corpus itself is scanned
    * once and never shuffled.
    *
    * Output: (`idCol`, n_overlap) for documents with at least one
    * overlapping n-gram. */
  def decontaminate(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 2): DataFrame = {
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    // codegen shingle materialization (expressions.ShingleArray) — the
    // interpreted HOF form was this operator's entire runtime
    def sh = array_distinct(call_function("shingle_array",
      split(lower(col(textCol)), "\\s+"), lit(shingleN)))
    val corpusSh = corpus.select(col(idCol), explode(sh).as("tok"))
    val benchSh = benchmark.select(explode(sh).as("tok")).distinct()
    corpusSh.join(broadcast(benchSh), Seq("tok"), "left_semi")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_overlap"))
  }

  /** Soft contamination SCORING — the graded companion to
    * [[decontaminate]]'s hard overlap count: for EVERY corpus document,
    * the fraction of its distinct n-grams that appear anywhere in the
    * benchmark set, plus a `flagged` bit at `flagThreshold` (the
    * GPT-3-style n-gram decontamination policy: drop or down-weight
    * docs whose overlap fraction crosses a line, rather than only
    * counting exact hits). The ratio is presented as the RAW double of
    * one IEEE division — never rounded (ratios of two small integers
    * sit exactly on decimal half-boundaries where engines' round()
    * differs).
    *
    * Scale shape: ONE corpus scan, ONE explode — the exploded stream
    * broadcast-LEFT-joins the benchmark gram set (a hit MARKER, not a
    * semi filter), and per-doc totals and hit counts come out of the
    * SAME partial-agged aggregation (`count(tok)` / `sum(_hit)`), so
    * nothing is computed twice and the shuffle carries one slim
    * partial row per (task, doc) — the earlier two-branch form
    * re-tokenized and re-shingled the full corpus once per branch.
    * Docs shorter than the shingle width shingle to their WHOLE TEXT
    * as one gram (the `shingle_array` contract shared with the minhash
    * tier), so every doc has ≥ 1 gram and the ratio is always defined;
    * explode_outer + count(tok) keep even a hypothetical zero-gram doc
    * in the output (ratio 0) as a belt-and-suspenders guard. */
  def contaminationScore(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, textCol: String,
      shingleN: Int = 2, flagThreshold: Double = 0.2): DataFrame = {
    require(flagThreshold > 0.0 && flagThreshold <= 1.0,
      s"flagThreshold must be in (0, 1], got $flagThreshold")
    graft.expressions.GraftFunctions.register(corpus.sparkSession)
    def sh = array_distinct(call_function("shingle_array",
      split(lower(col(textCol)), "\\s+"), lit(shingleN)))
    val benchSh = benchmark.select(explode(sh).as("tok")).distinct()
      .withColumn("_hit", lit(1L))
    corpus.select(col(idCol), explode_outer(sh).as("tok"))
      // benchSh is distinct on tok ⇒ the left join is multiplicity-1:
      // it marks, never duplicates
      .join(broadcast(benchSh), Seq("tok"), "left")
      .groupBy(col(idCol))
      .agg(count(col("tok")).as("n_grams"),
        coalesce(sum(col("_hit")), lit(0L)).as("n_overlap"))
      .withColumn("contamination",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_overlap").cast(DoubleType) / col("n_grams")))
      .withColumn("flagged",
        (col("contamination") >= flagThreshold).cast(IntegerType))
  }

  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 1,
      maxBucketPairs: Long = DefaultMaxBucketPairs): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val elems =
      if (shingleN <= 1) array_distinct(split(lower(col(textCol)), "\\s+"))
      // codegen shingle materialization — the HOF form runs interpreted
      // and dominates the whole operator at shingleN ≥ 2
      else array_distinct(call_function("shingle_array",
        split(lower(col(textCol)), "\\s+"), lit(shingleN)))
    val toks = df.select(col(idCol).as("id"), explode(elems).as("tok"))
    // sizes use ALL elements (Jaccard stays exact); only candidate
    // generation skips degenerate stopword buckets, which can miss pairs
    // whose overlap is exclusively stopwords — acceptable for near-dup
    // detection, same trade as minhash band capping
    val sizes = toks.groupBy(col("id")).agg(count(lit(1)).as("n"))
    // stopword cap: same pair-budget shape as the minhash band cap —
    // partial-agg the tiny degenerate-token set (map-side combine absorbs
    // hot tokens), broadcast it, anti-join without shuffling the token
    // stream
    val maxBucketDocs = maxDocsForPairBudget(maxBucketPairs)
    val stopTokens = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("_tn"))
      .filter(col("_tn") > maxBucketDocs) // doc threshold ⇔ pair budget, overflow-proof
      .select(col("tok"))
    val rare = toks.join(broadcast(stopTokens), Seq("tok"), "left_anti")
    val inter = rare.as("a").join(rare.as("b"), Seq("tok"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("jaccard", col("n_inter").cast(DoubleType) /
        (col("n_a") + col("n_b") - col("n_inter")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_a"), col("id_b"), col("jaccard"))
  }

  /** ASYMMETRIC token-set containment pairs: |A∩B|/|A| and |A∩B|/|B|
    * for candidate pairs — the quote/partial-inclusion detector
    * symmetric Jaccard structurally misses (a tweet quoted inside an
    * article has tiny Jaccard but containment ≈ 1 from the tweet's
    * side). Same candidate/budget machinery as [[ngramJaccardPairs]]
    * (shared-token equi-join, stopword-bucket cap — never all-pairs);
    * a pair survives when EITHER direction reaches `threshold`, and
    * both directions are reported (each ONE exact-long division).
    *
    * BOTH the numerator and the denominators are computed over the
    * stop-token-PRUNED stream: containment is "share of A's non-hot
    * tokens also in B". Sizing n_a/n_b from ALL tokens while n_inter
    * skips hot buckets would silently UNDER-estimate containment the
    * moment any token tops the bucket cap (a fully-contained quote
    * whose tokens include one corpus-hot word would miss the
    * threshold) — the internally-consistent pruned measure degrades
    * gracefully instead, and matches the oracle at every corpus size. */
  def tokenContainmentPairs(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double, shingleN: Int = 1,
      maxBucketPairs: Long = DefaultMaxBucketPairs): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    require(threshold > 0.0 && threshold <= 1.0,
      s"containment threshold must be in (0,1], got $threshold")
    val elems =
      if (shingleN <= 1) array_distinct(split(lower(col(textCol)), "\\s+"))
      else array_distinct(call_function("shingle_array",
        split(lower(col(textCol)), "\\s+"), lit(shingleN)))
    val toks = df.select(col(idCol).as("id"), explode(elems).as("tok"))
    val maxBucketDocs = maxDocsForPairBudget(maxBucketPairs)
    val stopTokens = toks.groupBy(col("tok"))
      .agg(count(lit(1)).as("_tn"))
      .filter(col("_tn") > maxBucketDocs)
      .select(col("tok"))
    val rare = toks.join(broadcast(stopTokens), Seq("tok"), "left_anti")
    // denominators from the SAME pruned stream as the intersection —
    // see the contract note above
    val sizes = rare.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val inter = rare.as("a").join(rare.as("b"), Seq("tok"))
      .filter(col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("n_inter"))
    inter
      .join(sizes.select(col("id").as("id_a"), col("n").as("n_a")), Seq("id_a"))
      .join(sizes.select(col("id").as("id_b"), col("n").as("n_b")), Seq("id_b"))
      .withColumn("cont_a",
        col("n_inter").cast(DoubleType) / col("n_a").cast(DoubleType))
      .withColumn("cont_b",
        col("n_inter").cast(DoubleType) / col("n_b").cast(DoubleType))
      .filter(col("cont_a") >= threshold || col("cont_b") >= threshold)
      .select(col("id_a"), col("id_b"), col("n_inter"),
        col("n_a"), col("n_b"), col("cont_a"), col("cont_b"))
  }

  /** Two-stage near-dup verification: cheap set-similarity blocking
    * ([[ngramJaccardPairs]]) proposes candidates; expensive edit
    * distance confirms them. Levenshtein is O(|a|·|b|) per pair — at
    * corpus scale it can ONLY run on a blocked candidate set, never
    * all-pairs (the standard verify step after any LSH/shingle stage).
    *
    * Shuffle shape: only the SLIM pair set (two ids + a double) is ever
    * broadcast — never rows carrying text, whose broadcast size would
    * be bounded by maxBucketPairs·|doc| rather than anything small.
    * Each side's text attaches via a broadcast hash join that streams
    * the corpus (text never shuffles); the two attached halves then
    * join on the pair key, shuffling at most `maxBucketPairs` rows
    * with one text each. The distance itself uses the banded
    * `levenshtein(a, b, threshold)` form: O(maxDist·n) per pair
    * instead of O(n²), with the exact distance preserved for every
    * pair that survives the bound (the -1 over-threshold sentinel is
    * filtered out). */
  def editDistanceVerify(
      df: DataFrame, idCol: String, textCol: String,
      minJaccard: Double, maxDist: Int, shingleN: Int = 2,
      maxBucketPairs: Long = DefaultMaxBucketPairs): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val cand = ngramJaccardPairs(
      df, idCol, textCol, minJaccard, shingleN, maxBucketPairs)
    val texts = df.select(col(idCol).as("_id"), col(textCol).as("_t"))
    val withA = texts.join(broadcast(cand), col("_id") === col("id_a"))
      .select(col("id_a"), col("id_b"), col("jaccard"), col("_t").as("_ta"))
    val withB = texts.join(broadcast(cand.select(col("id_a"), col("id_b"))),
        col("_id") === col("id_b"))
      .select(col("id_a"), col("id_b"), col("_t").as("_tb"))
    withA.join(withB, Seq("id_a", "id_b"))
      .withColumn("edit_dist", levenshtein(col("_ta"), col("_tb"), maxDist))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("jaccard"), col("edit_dist"))
  }

  /** Sorted-neighborhood record linkage: the classic blocking
    * alternative to LSH for entity resolution (Hernández & Stolfo's
    * merge/purge). Records sort by a normalized key WITHIN blocks and
    * only each record's next `windowSize` neighbors in that order are
    * compared — candidate count ≤ N·windowSize, never N², and the
    * window rides ONE partitioned Window operator (one shuffle on the
    * block key; no partition-less window, no self-join).
    *
    * Compared to MinHash-LSH: sorted neighborhood finds near-dups that
    * share a PREFIX (names, titles, normalized addresses) at a fixed
    * linear candidate budget, and degrades predictably under skew (a
    * hot block costs block_size·windowSize pairs, not block_size²).
    * The production recipe is multi-pass with different block keys;
    * each pass is this function.
    *
    * Similarity = word-set Jaccard |A∩B| / |A∪B| over whitespace
    * tokens — exact integer set sizes, ONE IEEE division, so the score
    * is bit-identical in any engine (the house rational-presentation
    * rule). Empty/whitespace-only texts are dropped (no token set to
    * compare).
    *
    * Output: (id_a, id_b, sim) for neighbor pairs with sim ≥ `minSim`,
    * id_a preceding id_b in block sort order. */
  def sortedNeighborLinkage(
      df: DataFrame, idCol: String, textCol: String, blockKey: Column,
      windowSize: Int = 2, minSim: Double = 0.5): DataFrame = {
    require(windowSize >= 1, s"windowSize must be >= 1, got $windowSize")
    require(minSim >= 0 && minSim <= 1, s"minSim must be in [0,1], got $minSim")
    val norm = lower(trim(col(textCol)))
    val base = df
      .select(col(idCol).as("_id"), norm.as("_nrm"), blockKey.as("_blk"))
      .filter(length(col("_nrm")) > 0)
      .withColumn("_toks", array_distinct(split(col("_nrm"), "\\s+")))
    val w = Window.partitionBy(col("_blk")).orderBy(col("_nrm"), col("_id"))
    // all offsets through one window spec ⇒ a single Window operator;
    // explode fans each row into its ≤ windowSize candidate pairs
    val leads = (1 to windowSize).map(k =>
      struct(lead(col("_id"), k).over(w).as("_idb"),
        lead(col("_toks"), k).over(w).as("_tb")))
    val inter = size(array_intersect(col("_toks"), col("_tb")))
    val uni = size(col("_toks")) + size(col("_tb")) - inter
    base
      // window expressions must be projected BEFORE the explode — a
      // Generate operator cannot host them
      .select(col("_id"), col("_toks"), array(leads: _*).as("_cands"))
      .select(col("_id"), col("_toks"), explode(col("_cands")).as("_cand"))
      .select(col("_id"), col("_toks"),
        col("_cand._idb").as("_idb"), col("_cand._tb").as("_tb"))
      .filter(col("_idb").isNotNull)
      .withColumn("sim",
        when(uni > 0, inter.cast(DoubleType) / uni.cast(DoubleType)))
      .filter(col("sim") >= minSim)
      .select(col("_id").as("id_a"), col("_idb").as("id_b"), col("sim"))
  }

  /** Duplicated-span statistics: for each document, the fraction of its
    * token n-gram INSTANCES that occur more than once anywhere in the
    * corpus — the per-document signal behind exact-substring dedup
    * (a high dup_frac document is mostly boilerplate someone else also
    * has; the usual pipeline drops or trims it). Counting instances
    * (not distinct grams) weights a repeated boilerplate block by its
    * length, which is what the downstream token budget actually pays.
    *
    * Scale shape: one explode → one groupBy(gram) count (map-side
    * combine absorbs hot grams) → broadcast-eligible join back on the
    * gram. Only (gram, count) rows shuffle in the count; the join back
    * re-shuffles (id, gram) pairs once. A production run can key both
    * sides on `xxhash64(gram)` to shuffle 8-byte keys instead of
    * strings — kept as the string here so the result is exactly
    * restatable in ANSI SQL (collisions: 64-bit birthday bound makes
    * the hash variant statistically identical).
    *
    * Output: (`idCol`, n_grams, n_dup, dup_frac), one row per input
    * document (docs shorter than n tokens contribute their whole text
    * as a single gram, per [[shingles]]). */
  def duplicateSpanStats(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5): DataFrame = {
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val grams = df.select(col(idCol),
        explode(call_function("shingle_array",
          split(lower(col(textCol)), "\\s+"), lit(shingleN))).as("_g"))
    val counts = grams.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"))
    grams.join(counts, Seq("_g"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_grams"),
        sum(when(col("_n") > 1, 1L).otherwise(0L)).as("n_dup"))
      .withColumn("dup_frac",
        col("n_dup").cast(DoubleType) / col("n_grams"))
  }

  /** Exact-substring span REMOVAL — the acting half of
    * [[duplicateSpanStats]] (Lee et al. 2022 measure the duplication;
    * this drops it): every token covered by a `shingleN`-gram instance
    * whose corpus-wide occurrence count exceeds `maxOccurrences` is
    * removed, and each document is rebuilt from its surviving tokens in
    * order. Docs that lose every token (pure boilerplate) drop.
    *
    * Removal is per INSTANCE, so one canonical copy does NOT survive —
    * that is [[segmentDedup]]'s keep-first contract; this one is the
    * exact-substring rule: a span repeated beyond the threshold is
    * memorization risk wherever it appears, including its first site.
    *
    * Scale shape: the gram side is [[duplicateSpanStats]]'s exactly —
    * explode → partial-agg count (only (gram, count) shuffles) → join
    * back on the gram to find duplicated instances. Then only the
    * (id, position) pairs of DUPLICATED instances aggregate per doc
    * (cost ∝ duplication, not corpus), and the rebuild is one join of
    * that small position-list table back to the corpus followed by a
    * per-row HOF (each token checks the doc's own duplicated-span
    * starts: O(len · |dup spans in doc|), zero further shuffle).
    *
    * The `grams` subtree is referenced TWICE (the count aggregate and
    * the instance join) and DELIBERATELY recomputed rather than
    * checkpointed: materializing it would write the exploded stream —
    * ≈ shingleN × the corpus text bytes — while recomputing costs one
    * extra columnar scan + a codegen'd split/shingle projection. The
    * localCheckpoint discipline elsewhere (CorpusPrep, the bloom tier)
    * cuts MULTI-SHUFFLE recomputes; this subtree has none.
    *
    * Output: (`idCol`, text_clean, n_tokens, n_removed), docs with at
    * least one surviving token. */
  def removeDuplicateSpans(
      df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 5, maxOccurrences: Long = 1L): DataFrame = {
    require(shingleN >= 1, s"shingleN must be >= 1, got $shingleN")
    require(maxOccurrences >= 1L,
      s"maxOccurrences must be >= 1, got $maxOccurrences")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    val toks = split(lower(col(textCol)), "\\s+")
    val grams = df.select(col(idCol),
      posexplode(call_function("shingle_array", toks, lit(shingleN)))
        .as(Seq("_pos", "_g")))
    val dupGrams = grams.groupBy(col("_g"))
      .agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxOccurrences)
    val dupStarts = grams.join(dupGrams.select(col("_g")), Seq("_g"), "left_semi")
      .groupBy(col(idCol))
      .agg(collect_list(col("_pos")).as("_dup_pos"))
    df.join(dupStarts, Seq(idCol), "left")
      .select(col(idCol), toks.as("_toks"),
        coalesce(col("_dup_pos"), array()).as("_dp"))
      .select(col(idCol),
        // a token at 0-based index j survives iff no duplicated gram
        // starting at p covers it (p <= j <= p + shingleN - 1); the HOF
        // index i is 0-based in Spark
        filter(col("_toks"), (t, i) =>
          !exists(col("_dp"), p => i >= p && i <= p + shingleN - 1))
          .as("_kept"),
        size(col("_toks")).cast(LongType).as("n_tokens"))
      .select(col(idCol),
        array_join(col("_kept"), " ").as("text_clean"),
        col("n_tokens"),
        (col("n_tokens") - size(col("_kept"))).cast(LongType).as("n_removed"))
      .filter(col("text_clean") =!= "") // all tokens removed ⇒ doc drops
  }

  /** Segment-level exact dedup with reconstruction — the
    * paragraph-dedup pass of a web-corpus pipeline (CCNet/RefinedWeb
    * shape), expressed over fixed `segTokens`-token segments because
    * segment boundaries generalize to corpora without newline
    * structure. Every segment keeps exactly ONE canonical occurrence
    * corpus-wide — the lexicographically smallest (id, seg_idx) — and
    * each document is rebuilt from its surviving segments in order.
    * Documents whose every segment lost are dropped entirely (the
    * all-boilerplate case).
    *
    * Scale shape: two shuffles — one groupBy on the segment text to
    * pick the canonical occurrence (map-side combine collapses
    * corpus-wide repeats early), one groupBy on the id to reconstruct.
    * Segment text rides both (same string-vs-hash trade as
    * [[duplicateSpanStats]]; the reconstruct side must carry text
    * regardless). Per-doc state is bounded by the document's own
    * segment count.
    *
    * Output: (`idCol`, text_dedup, n_segs, n_kept), docs with
    * n_kept ≥ 1. */
  def segmentDedup(
      df: DataFrame, idCol: String, textCol: String,
      segTokens: Int = 10): DataFrame = {
    require(segTokens >= 1, s"segTokens must be >= 1, got $segTokens")
    val toks = split(lower(col(textCol)), "\\s+")
    val segs = df.select(col(idCol),
        posexplode(transform(
          sequence(lit(0), ceil(size(toks).cast(DoubleType) / segTokens).cast(IntegerType) - 1),
          i => array_join(slice(toks, i * segTokens + 1, lit(segTokens)), " ")))
          .as(Seq("seg_idx", "_seg")))
    val canon = segs.groupBy(col("_seg"))
      .agg(min(struct(col(idCol), col("seg_idx"))).as("_keep"))
      .select(col(s"_keep.$idCol").as(idCol),
        col("_keep.seg_idx").as("seg_idx"), col("_seg"))
    canon.groupBy(col(idCol))
      .agg(
        array_join(transform(
          array_sort(collect_list(struct(col("seg_idx"), col("_seg")))),
          x => x.getField("_seg")), " ").as("text_dedup"),
        count(lit(1)).as("n_kept"))
      .join(segs.groupBy(col(idCol)).agg(count(lit(1)).as("n_segs")), Seq(idCol))
      .select(col(idCol), col("text_dedup"), col("n_segs"), col("n_kept"))
  }

  /** Cross-document LINE-FREQUENCY filter (the RefinedWeb/CCNet chrome
    * pass): a trimmed non-empty line occurring in ≥ `minDocs` DISTINCT
    * documents is boilerplate (nav / cookie banner / footer) and is
    * removed from EVERY document — the semantics neither within-doc
    * line dedup (the line appears once per doc) nor keep-first segment
    * dedup (the first doc would keep it) can express. Whitespace-only
    * lines are exempt: they carry layout, not chrome, and counting
    * them would make the empty line "boilerplate" corpus-wide.
    *
    * Scale shape: one line-grain count-distinct aggregation on the
    * trimmed line (map-side partials absorb per-doc repeats), the
    * boilerplate set — bounded above by total_lines / minDocs — prunes
    * the line stream via an UNHINTED anti join (AQE broadcasts it when
    * small, degrades to shuffle when a low threshold makes it big),
    * and one groupBy(id) rebuilds documents in original line order.
    * No per-doc state beyond its own line list; no collect.
    *
    * Output: `df`'s columns + `n_lines`, `n_lines_kept`, `clean_text`
    * (the [[TextOps.dedupLinesWithinDocScalable]] contract — an
    * all-boilerplate doc keeps 0 lines and an empty clean_text, never
    * disappears). `idCol` must be unique and non-null. */
  def lineFrequencyFilter(
      df: DataFrame, idCol: String, textCol: String,
      minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    val exploded = df.select(col(idCol),
        posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_norm", trim(col("_line")))
    val boiler = exploded
      .filter(col("_norm") =!= "")
      .groupBy(col("_norm"))
      .agg(count_distinct(col(idCol)).as("_nd"))
      .filter(col("_nd") >= minDocs)
      .select(col("_norm"))
    val kept = exploded.join(boiler, Seq("_norm"), "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(count(lit(1)).as("_nk"),
        array_join(transform(
          array_sort(collect_list(struct(col("_pos"), col("_line")))),
          s => s.getField("_line")), "\n").as("_ct"))
    df.withColumn("n_lines", size(split(col(textCol), "\n")).cast(LongType))
      .join(rebuilt, Seq(idCol), "left")
      .withColumn("n_lines_kept", coalesce(col("_nk"), lit(0L)))
      .withColumn("clean_text", coalesce(col("_ct"), lit("")))
      .drop("_nk", "_ct")
  }

  /** END-TO-END fuzzy dedup — corpus in, near-dup-free corpus out. THE
    * operation an LLM-data pipeline actually runs; the stages it
    * composes are each proven separately, this is their one-call form:
    *
    *  1. candidates: [[minhashCandidatePairs]] (banded LSH, pair-budget
    *     capped — never all-pairs; `estThreshold` 0 here because the
    *     next stage is the precision filter);
    *  2. confirm: EXACT distinct-shingle-set Jaccard computed only on
    *     the candidate pairs (cost ∝ duplication, not corpus²), keeping
    *     pairs with jaccard ≥ `threshold` — the checked-estimator
    *     pattern of `dedup_minhash_vs_exact`, inlined;
    *  3. cluster: [[connectedComponents]] over the confirmed pairs
    *     (min-id labels; pass `checkpointDir` on preemptible clusters);
    *  4. survive: one winner per cluster — the min id, i.e. the row
    *     whose id equals its cluster label — and the corpus loses every
    *     other cluster member via one semi join.
    *
    * Recall contract: LSH candidate generation is the ONLY stage that
    * can miss a true pair; a pair with confirm-Jaccard j escapes with
    * probability (1 − j^(numHashes/bands))^bands. At `bands = numHashes`
    * (one hash per band — the recall-first setting the oracled catalog
    * key uses) that is (1−j)^64 ≤ 1e-10 for j ≥ 0.3: the composed output
    * equals the exact-enumeration dedup for any real corpus, which is
    * what lets a SQL oracle verify this END TO END. The default
    * `bands = 16` trades that last ~1e-10 of recall (near-threshold
    * pairs only) for ~4× fewer candidates to confirm — the standard
    * production setting.
    *
    * Returns the surviving rows of `df`, schema unchanged. `idCol` must
    * be numeric and unique (cluster labels are min-of-longs). */
  def fuzzyDedupE2E(
      df: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.5,
      numHashes: Int = 64, bands: Int = 16, shingleN: Int = 3,
      maxBucketPairs: Long = DefaultMaxBucketPairs,
      checkpointDir: Option[String] = None,
      normalize: Boolean = true): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    graft.expressions.GraftFunctions.register(df.sparkSession)
    // `normalize` canonicalizes the SIGNATURE text (NFKC + casefold +
    // whitespace collapse, TextOps.normalizeForDedup) before shingling —
    // applied consistently to the LSH side AND the confirm side below,
    // so visually-identical NBSP/full-width/ligature variants collide
    // instead of escaping every tier. Output rows keep the ORIGINAL
    // text: normalization decides which rows are duplicates, it never
    // rewrites surviving content. Zero extra shuffles — both consumers
    // already project per-row from this frame.
    val sigInput = df.select(col(idCol),
      (if (normalize) TextOps.normalizeForDedup(df.sparkSession, col(textCol))
       else col(textCol)).as(textCol))
    val cand = minhashCandidatePairs(sigInput, idCol, textCol, numHashes, bands,
      shingleN, estThreshold = 0.0, maxBucketPairs)
      .select(col("id_a"), col("id_b"))
    // exact confirm on the codegen shingle arrays — the same shingle
    // semantics as [[ngramJaccardPairs]] (and the SQL oracles built on
    // it), so confirmed pairs are exactly the ≥-threshold subset of the
    // true pair graph restricted to LSH candidates. The per-PAIR work is
    // one sorted-merge intersection over 64-bit shingle hashes
    // (expressions.SortedInterSize; |union| = n_a + n_b − inter): each
    // doc's distinct shingles hash and sort ONCE, replacing the
    // per-pair array_intersect/array_union hash sets over strings that
    // dominated this operator (2.4 s of 4 s at sf0.1). Hashed-set
    // Jaccard equals string-set Jaccard unless xxhash64 collides within
    // a pair's union (p ≲ |union|²/2⁶⁵ ≈ 1e-15 per pair) — the same
    // exactness tier as the LSH recall argument above.
    // r17 NOTE (measured, kept as-was): three candidate-grain rewrites
    // of this confirm stage were built and KeyBenched at sf0.1 —
    // (a) shared union+distinct candidate-id semi-restriction (3.395 s
    // min vs 2.442 baseline), (b) per-side lazy semi-restriction
    // (3.370 s), (c) per-side BROADCAST semi-restriction + broadcast
    // confirm build (4.186 s; each broadcast of the RDD-backed cand
    // frame is a driver collect + build job). All three make the
    // shingle+sort run over candidate docs only — the right 100 TB
    // *compute* shape — but each adds stages/jobs that cost more than
    // the whole corpus-grain shingle pass at any scale factor this
    // bench reaches, so the measured winner below is the original
    // two-SortMergeJoin form. At production scale the confirm runs off
    // STAGED signature parquet (the bm25/IVF fit-serve split), where
    // the restriction is a pushed-down semi join against the staged
    // table, not an in-plan rewrite.
    val sets = sigInput.select(col(idCol).as("_sid"),
      sort_array(array_distinct(transform(
        call_function("shingle_array",
          split(lower(col(textCol)), "\\s+"), lit(shingleN)),
        x => xxhash64(x)))).as("_sh"))
      .withColumn("_n", size(col("_sh")))
    val confirmed = cand
      .join(sets.select(col("_sid").as("id_a"),
        col("_sh").as("_sh_a"), col("_n").as("_n_a")), Seq("id_a"))
      .join(sets.select(col("_sid").as("id_b"),
        col("_sh").as("_sh_b"), col("_n").as("_n_b")), Seq("id_b"))
      .withColumn("_inter",
        call_function("sorted_inter_size", col("_sh_a"), col("_sh_b")))
      .filter(col("_inter").cast(DoubleType) /
        (col("_n_a") + col("_n_b") - col("_inter")) >= threshold)
      .select(col("id_a"), col("id_b"))
    val clusters = connectedComponents(
      df.select(col(idCol)), confirmed, idCol, "id_a", "id_b",
      checkpointDir = checkpointDir)
    val survivors = clusters
      .filter(col(idCol) === col("cluster_id"))
      .select(col(idCol))
    df.join(survivors, Seq(idCol), "left_semi")
  }

  /** Prefix-truncation duplicate detection: find (short, long) doc
    * pairs where the SHORT text is a strict prefix of the LONG one —
    * the crawl artifact exact dedup misses (a re-fetch cut off
    * mid-page hashes differently) and near-dup shingling only
    * sometimes catches (a 10% tail changes Jaccard little; a 60%
    * truncation a lot).
    *
    * Scale shape: candidates BLOCK on the first `blockLen` characters
    * (one equi-join on the prefix key — the LSH band-join shape, never
    * all-pairs), then confirm with one substring equality. The
    * DOCUMENTED bound: a short side under `blockLen` characters is out
    * of scope (route those to exact/near dedup — at crawl scale
    * sub-64-char docs are boilerplate anyway), which is what makes the
    * block key a complete index of candidate pairs: any qualifying
    * short text's first blockLen chars EQUAL the long text's first
    * blockLen chars by definition of prefix.
    *
    * Determinism: pure string operations, exact lengths; ties none
    * (output grain is the pair). Self-pairs and equal-length pairs are
    * excluded (strictness); equal DUPLICATE texts belong to
    * dedup_exact. */
  def prefixTruncationPairs(df: DataFrame, idCol: String, textCol: String,
      blockLen: Int = 64): DataFrame = {
    require(blockLen >= 1, s"prefixTruncationPairs: blockLen >= 1, got $blockLen")
    val base = df
      .filter(col(textCol).isNotNull && length(col(textCol)) >= blockLen)
      .select(col(idCol).as("_id"), col(textCol).as("_t"),
        length(col(textCol)).as("_len"),
        substring(col(textCol), 1, blockLen).as("_blk"))
    val short = base.select(col("_blk"), col("_id").as("short_id"),
      col("_t").as("_ts"), col("_len").as("short_len"))
    val long = base.select(col("_blk"), col("_id").as("long_id"),
      col("_t").as("_tl"), col("_len").as("long_len"))
    short.join(long, Seq("_blk"))
      .filter(col("short_len") < col("long_len") &&
        col("_ts") === col("_tl").substr(lit(1), col("short_len")))
      .select(col("short_id"), col("long_id"),
        col("short_len"), col("long_len"))
  }
}
