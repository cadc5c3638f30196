package operators

import core.Shingles
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Large-scale deduplication operators over a (doc_id, text) table:
  * exact (hash-groupBy — see SparkEntry q_dedup_exact/q_dedup_first),
  * MinHash+LSH, SimHash, exact n-gram Jaccard verification, and
  * winnowed fingerprints.
  *
  * Scale design (the 100 TB story):
  * - signatures/fingerprints are computed per-row with NO shuffle;
  * - the only shuffles are (1) the band-bucket groupBy, whose payload is
  *   (band_key, doc_id) — 8 bytes × bands per doc, NOT the text — and
  *   (2) the candidate-verification join, which touches only candidate ids;
  * - degenerate buckets (boilerplate shingles shared by millions of docs)
  *   are capped at MaxBucket and the drop is observable in `bucketStats`,
  *   never silent;
  * - pair generation is per-bucket (size ≤ MaxBucket ⇒ ≤ MaxBucket²/2
  *   pairs), then `distinct` dedups across bands.
  */
object Dedup {
  final val ShingleN = 3
  final val MinhashK = 64
  final val Bands = 16
  final val Rows = 4
  final val MaxBucket = 64

  /** Per-tier cap for the SIMHASH chunk buckets. The minhash tier spreads
    * docs over 16 bands × a 64-bit key space and a pair lost to one band's
    * hot bucket has 15 more chances, so MaxBucket=64 loses essentially
    * nothing (measured: 0 capped buckets at sf0.1). The simhash tier has
    * only FOUR 16-bit chunks — a much smaller key space (boilerplate-heavy
    * corpora concentrate near-identical docs into shared chunk buckets;
    * measured: 6/10,781 buckets capped at 64, max 163 at sf0.1) and only
    * 3 other chunks to rescue a dropped pair, so its cap must be larger.
    * 256 clears the sf0.1 maximum with headroom; per-bucket pair work is
    * bounded at 256²/2 = 32,640 candidate pairs — still trivially small
    * next to a corpus-sized shuffle. Recall under both caps is MEASURED
    * (graft.CapRecall; BENCH/BASELINE.md), not asserted.
    */
  final val SimhashMaxBucket = 256

  private val bandKeysUdf = udf((text: String) =>
    Shingles.bandKeys(
      Shingles.minhashSignature(Shingles.wordShingles(text, ShingleN), MinhashK),
      Bands, Rows))

  private val shinglesUdf = udf((text: String) => Shingles.wordShingles(text, ShingleN))

  private val jaccardUdf = udf((a: Seq[Int], b: Seq[Int]) =>
    Shingles.jaccard(a.toArray, b.toArray))

  private val simhashUdf = udf((text: String) => Shingles.simhash64(text))

  private val fingerprintUdf = udf((text: String) => Shingles.fingerprint(text))

  /** Candidate pairs from bucketed keys: groupBy bucket → in-bucket pairs.
    * Shared by minhash / simhash / embedding-LSH dedup tiers; `maxBucket`
    * is per-tier (simhash's 4-chunk pigeonhole needs larger buckets than
    * minhash's 16 bands — see `SimhashMaxBucket`). `collect_set` (not
    * `_list`): a doc_id appearing twice under one key (e.g. a replayed
    * band-index append) must not inflate the bucket size or emit self
    * pairs — set semantics are identical on unique inputs.
    *
    * Pair generation is a typed flatMap ITERATOR, not a UDF returning the
    * pair array: a udf must materialize all ≤ maxBucket²/2 pairs of a
    * bucket in one row before explode sees them (~0.5 MB per maximal
    * simhash bucket at cap 256 — and the term that grows quadratically if
    * a tier's cap is ever raised again), while the iterator streams pairs
    * straight into the distinct's exchange with O(bucket) memory. The
    * typed boundary costs codegen on a path that is candidate-sized, not
    * corpus-sized.
    */
  private[operators] def pairsFromKeys(keyed: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame = {
    val spark = keyed.sparkSession
    import spark.implicits._
    keyed // (doc_id, band_key)
      .groupBy("band_key")
      .agg(sort_array(collect_set(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, maxBucket))
      .select(col("ids")).as[Seq[Long]]
      .flatMap { ids =>
        for {
          i <- ids.indices.iterator
          j <- ((i + 1) until ids.length).iterator
        } yield (ids(i), ids(j))
      }
      .toDF("doc_a", "doc_b")
      .distinct()
  }

  /** MinHash band keys: (doc_id, band_key), `Bands` rows per doc. */
  private def minhashKeys(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(bandKeysUdf(col("text"))).as("band_key"))

  /** SimHash chunk keys: (doc_id, band_key), 4 rows per doc — 16-bit chunks
    * offset into disjoint key spaces per chunk index. The simhash is
    * materialized ONCE in its own projection before the chunk expressions:
    * inlining the UDF into the 4 generator arms would re-tokenize and
    * re-hash the full text 4× per row (no common-subexpression elimination
    * reaches inside a generator's input).
    */
  private def simhashKeys(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), simhashUdf(col("text")).as("sim"))
      .select(col("doc_id"),
        explode(array((0 until 4).map(c =>
          (shiftrightunsigned(col("sim"), c * 16) % 65536) +
            lit(c.toLong * 65536)): _*)).as("band_key"))

  /** MinHash-LSH candidate pairs. Input: (doc_id: long, text: string). */
  def minhashCandidates(docs: DataFrame): DataFrame =
    pairsFromKeys(minhashKeys(docs))

  /** SimHash chunk-key rows (doc_id, band_key) — the simhash analog of
    * `bandIndexFor`, exposed for the cap diagnostics (graft.CapStats /
    * graft.CapRecall pick hot-bucket members from it).
    */
  def simhashKeysFor(docs: DataFrame): DataFrame = simhashKeys(docs)

  /** Candidate-pair verification shared by every near-dup tier: each
    * (doc_a, doc_b) pair re-joins both members' features from the
    * two-column (id, feature) frame `features`, and the pairs whose
    * similarity passes `keep` come back as (doc_a, doc_b, `simName`). The
    * bucket shuffles before this carry only ids and band keys; features
    * join in here, for candidate ids only.
    */
  private[operators] def verifyPairs(pairs: DataFrame, features: DataFrame,
      simName: String, sim: (Column, Column) => Column,
      keep: Column => Column): DataFrame =
    pairs
      .join(features.toDF("doc_a", "_f_a"), "doc_a")
      .join(features.toDF("doc_b", "_f_b"), "doc_b")
      .withColumn(simName, sim(col("_f_a"), col("_f_b")))
      .filter(keep(col(simName)))
      .select("doc_a", "doc_b", simName)

  /** Exact shingle-Jaccard verification of candidate pairs. */
  private def jaccardPairs(pairs: DataFrame, shingles: DataFrame,
      tau: Double): DataFrame =
    verifyPairs(pairs, shingles, "jaccard", jaccardUdf(_, _), _ >= tau)

  /** MinHash-LSH candidates verified with exact shingle Jaccard ≥ tau. */
  def nearDuplicates(docs: DataFrame, tau: Double): DataFrame =
    jaccardPairs(minhashCandidates(docs),
      docs.select(col("doc_id"), shinglesUdf(col("text"))), tau)

  /** SimHash near-dups: 64-bit fingerprints, candidates via 4×16-bit chunk
    * buckets (any pair within Hamming ≤ 3 of 64 bits shares ≥1 exact 16-bit
    * chunk by pigeonhole... for ≤3 flips over 4 chunks), verified by
    * bit_count(a XOR b) ≤ maxHamming.
    */
  def simhashDuplicates(docs: DataFrame, maxHamming: Int = 3,
      maxBucket: Int = SimhashMaxBucket): DataFrame = {
    // pigeonhole over 4 chunks is only COMPLETE for ≤ 3 flips; a larger
    // maxHamming would silently lose pairs whose flips hit all four chunks
    require(maxHamming >= 0 && maxHamming <= 3,
      s"simhash candidate generation uses 4 chunks => maxHamming ≤ 3, got $maxHamming")
    verifyPairs(pairsFromKeys(simhashKeys(docs), maxBucket),
      docs.select(col("doc_id"), simhashUdf(col("text"))), "hamming",
      (a, b) => bit_count(a.bitwiseXOR(b)), _ <= maxHamming)
  }

  /** Winnowed-fingerprint duplicate groups (cheapest near-dup tier: one
    * long per doc, one groupBy).
    */
  def fingerprintGroups(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), fingerprintUdf(col("text")).as("fp"))
      .groupBy("fp")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Bloom filter over the history corpus's text hashes — the carried
    * state of incremental dedup. One scan of one hashed column; the
    * returned filter is ~1.2 bytes/key at fpp=0.01 (1.2 GB for 10⁹ docs),
    * built distributed by Spark's bloomFilter aggregate and mergeable
    * across runs via `mergeBlooms` / persisted via `writeBloom`+`readBloom`
    * (see `incrementalNewWithBloom` for the amortized per-batch flow).
    */
  def historyBloom(history: DataFrame, expectedItems: Long,
      fpp: Double = 0.01, knownNonEmpty: Boolean = false): org.apache.spark.util.sketch.BloomFilter =
    // Spark's bloomFilter aggregate yields null bytes over ZERO input rows
    // and readFrom NPEs on them; an empty history is a legitimate first
    // run — test for it explicitly (isEmpty = a limit-1 probe, cheap)
    // rather than catching the NPE, so a genuine aggregation failure still
    // surfaces instead of masquerading as an empty filter. Callers that
    // already counted the input (processDedupBatch counts its persisted
    // batch anyway) skip the probe via `knownNonEmpty`.
    if (!knownNonEmpty && history.isEmpty)
      org.apache.spark.util.sketch.BloomFilter.create(expectedItems, fpp)
    else history.select(xxhash64(col("text")).as("h"))
      .stat.bloomFilter("h", expectedItems, fpp)

  /** Persist a bloom to `path` via temp file + atomic rename — the carried
    * cross-batch state of incremental dedup, so history is never rescanned
    * just to rebuild the filter.
    */
  def writeBloom(bloom: org.apache.spark.util.sketch.BloomFilter,
      path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    val out = java.nio.file.Files.newOutputStream(tmp)
    try bloom.writeTo(out) finally out.close()
    java.nio.file.Files.move(tmp, p,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  def readBloom(path: String): org.apache.spark.util.sketch.BloomFilter = {
    val in = java.nio.file.Files.newInputStream(java.nio.file.Paths.get(path))
    try org.apache.spark.util.sketch.BloomFilter.readFrom(in) finally in.close()
  }

  /** Merge `b` into `a` (both must share expectedItems/fpp — Spark blooms
    * are only compatible at identical bit size and hash count). Returns the
    * mutated `a` for chaining: the per-batch update is
    * `writeBloom(mergeBlooms(readBloom(p), historyBloom(batch, n)), p)`.
    */
  def mergeBlooms(a: org.apache.spark.util.sketch.BloomFilter,
      b: org.apache.spark.util.sketch.BloomFilter): org.apache.spark.util.sketch.BloomFilter = {
    a.mergeInPlace(b)
    a
  }

  /** Suspect sets up to this many rows are broadcast for the history prune
    * (8-byte hashes ⇒ ~80 MB at the default); a dup-heavier batch (e.g. a
    * full re-crawl, where EVERY row is a suspect) falls back to a shuffled
    * LEFT SEMI on the same keys — identical output, no driver/broadcast-
    * limit risk.
    */
  final val MaxBroadcastSuspects = 10000000L

  /** Matched-hash sets up to this size are collected and pushed into the
    * history text scan as an IN filter (parquet row-group stats +
    * dictionary pushdown skip text IO for non-matching groups); larger
    * sets stay distributed — a million-literal In expression would bloat
    * the plan far past what the pushdown saves.
    */
  final val MaxPushdownMatches = 100000

  /** Incremental (cross-batch) exact dedup: the rows of `incoming` whose
    * text does not appear in `history` — the production shape of dedup at
    * corpus scale, where today's batch must be checked against 100 TB of
    * history WITHOUT an all-vs-all join. Builds the history bloom inline;
    * the amortized path is `incrementalNewWithBloom` with a persisted
    * filter (`writeBloom`/`readBloom`/`mergeBlooms`), which skips the
    * bloom-build scan entirely.
    */
  def incrementalNew(history: DataFrame, incoming: DataFrame,
      expectedItems: Long, fpp: Double = 0.01,
      maxBroadcastSuspects: Long = MaxBroadcastSuspects): DataFrame =
    incrementalNewWithBloom(historyBloom(history, expectedItems, fpp),
      history, incoming, maxBroadcastSuspects)

  /** Exact incremental dedup given an already-built history bloom (the
    * persisted cross-batch state — history is NOT scanned to build it).
    *
    * Plan shape, and why no shuffle ever carries history's text column on
    * the common path:
    * 1. the broadcast bloom prunes `incoming` — only rows the bloom claims
    *    (true dups + an fpp-bounded sliver of new rows) become suspects;
    * 2. one batch-proportional counting job sizes the suspect set (the
    *    join strategy must be fixed at plan time — letting AQE decide
    *    would shuffle-write the full history side first, the exact thing
    *    this layout exists to avoid). At or below `maxBroadcastSuspects`
    *    history is pruned by a broadcast LEFT SEMI keyed on
    *    `xxhash64(text)` — the broadcast side is the 8-byte suspect
    *    hashes, so the 100 TB history side streams through its scan with
    *    ZERO exchange; above it (a dup-heavy re-crawl batch) the same
    *    semi join runs shuffled — both sides exchange on the 8-byte hash,
    *    never on text;
    * 3. the confirming anti-join then exact-compares text only within that
    *    hash-matched sliver (≈ batch-dup-sized on both sides), rescuing
    *    both bloom false positives and 64-bit hash collisions.
    * The result is EXACT: it equals a plain anti-join on text (asserted in
    * OperatorsSpec and against the DuckDB NOT EXISTS oracle) on both
    * strategies. Null-text rows follow SQL NOT-EXISTS semantics: a null
    * never equals anything, so they are always classified new (and the
    * DuckDB oracle agrees); callers doing SET dedup must pre-filter nulls
    * (TranscriptStream.processDedupBatch does).
    *
    * NOTE: calling this runs the sizing job eagerly (one scan of
    * `incoming`); the returned DataFrame is lazy as usual.
    */
  def incrementalNewWithBloom(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      history: DataFrame, incoming: DataFrame,
      maxBroadcastSuspects: Long = MaxBroadcastSuspects): DataFrame = {
    val spark = incoming.sparkSession
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val seen = udf((h: Long) => bloomBc.value.mightContainLong(h))
    val keyed = incoming.withColumn("_h", xxhash64(col("text")))
    val sureNew = keyed.filter(!seen(col("_h")))
    val suspects = keyed.filter(seen(col("_h")))
    // upper-bounds the distinct suspect-hash count without a shuffle; the
    // threshold guard only needs a conservative bound
    val nSuspects = suspects.count()
    if (nSuspects == 0) return sureNew.drop("_h")
    val suspectHashes = suspects.select("_h").distinct()
    val prune =
      if (nSuspects <= maxBroadcastSuspects) broadcast(suspectHashes)
      else suspectHashes.hint("shuffle_hash")
    val histCand = history
      .select(xxhash64(col("text")).as("_h"), col("text"))
      .join(prune, Seq("_h"), "left_semi")
    val confirmed = suspects.join(histCand, Seq("_h", "text"), "left_anti")
    sureNew.unionByName(confirmed).drop("_h")
  }

  /** Attach the persisted 8-byte dedup key. Written WITH the accepted
    * output (TranscriptStream.processDedupBatch), so later batches confirm
    * against the stored hash column instead of recomputing `xxhash64` over
    * history's text — which forced a full text-column scan per batch.
    */
  def withTextHash(df: DataFrame): DataFrame =
    df.withColumn("_h", xxhash64(col("text")))

  /** Exact incremental dedup against a history table that PERSISTS its
    * hash column `_h = xxhash64(text)` (see `withTextHash`) — the round-5
    * fix for the last scan-proportional cost in the per-batch confirm:
    * with only a bloom, every batch re-hashed history's TEXT column (zero
    * shuffle, but a full-corpus read per batch at 100 TB).
    *
    * Phase 1 semi-joins history's HASH COLUMN ONLY against the suspect
    * hashes — parquet column pruning makes that scan read 8 bytes/row,
    * ~1000× less IO than text. Text is then read ONLY if phase 1 matched
    * anything:
    * - zero matches (the common case for a mostly-new batch, where
    *   suspects are just the bloom's fpp sliver): the text column is never
    *   read at all and the suspects pass straight through as new;
    * - ≤ `MaxPushdownMatches` matches: the matched hashes are collected
    *   and pushed into the text scan as an IN(_h) filter — PushedFilters
    *   reaches the parquet reader, so row-group stats / dictionaries can
    *   skip text IO for non-matching groups;
    * - larger match sets stay distributed: a broadcast (or, above
    *   `maxBroadcastSuspects`, shuffled) semi join keyed on `_h` — text is
    *   scanned but never shuffled, and a batch that dup-heavy inherently
    *   needs the text compare.
    * A history frame WITHOUT a `_h` column still works (the hash is
    * computed on the fly — same semantics, no text-scan saving).
    * Output is EXACT and identical to `incrementalNewWithBloom` and to the
    * DuckDB NOT-EXISTS oracle; null-text rows are always new (SQL
    * semantics — see `incrementalNewWithBloom`).
    *
    * NOTE: phases run eagerly (the sizing count + the phase-1 probe); the
    * returned DataFrame is lazy.
    */
  def incrementalNewHashed(
      bloom: org.apache.spark.util.sketch.BloomFilter,
      history: DataFrame, incoming: DataFrame,
      maxBroadcastSuspects: Long = MaxBroadcastSuspects): DataFrame = {
    val spark = incoming.sparkSession
    val historyHashed =
      if (history.columns.contains("_h")) history else withTextHash(history)
    val bloomBc = spark.sparkContext.broadcast(bloom)
    val seen = udf((h: Long) => bloomBc.value.mightContainLong(h))
    val keyed = incoming.withColumn("_h", xxhash64(col("text")))
    val sureNew = keyed.filter(!seen(col("_h")))
    val suspects = keyed.filter(seen(col("_h")))
    val nSuspects = suspects.count()
    if (nSuspects == 0) return sureNew.drop("_h")
    val suspectHashes = suspects.select("_h").distinct()
    val small = nSuspects <= maxBroadcastSuspects
    // phase 1: history's hash column only — never text
    val matchedHashes = historyHashed.select("_h")
      .join(if (small) broadcast(suspectHashes)
            else suspectHashes.hint("shuffle_hash"),
        Seq("_h"), "left_semi")
      .distinct()
    val confirmed =
      if (nSuspects <= MaxPushdownMatches) {
        // matched ⊆ suspects ⇒ collect is bounded by the pushdown cap
        val matched = matchedHashes.collect().map(_.getLong(0))
        if (matched.isEmpty) suspects
        else {
          val histCand = historyHashed
            .filter(col("_h").isin(matched.map(Long.box): _*))
            .select("_h", "text")
          suspects.join(histCand, Seq("_h", "text"), "left_anti")
        }
      } else {
        // phase 2 recomputes the phase-1 probe (hash-column scans are the
        // cheap currency here) and semi-joins text distributed
        val histCand = historyHashed.select("_h", "text")
          .join(if (small) broadcast(matchedHashes)
                else matchedHashes.hint("shuffle_hash"),
            Seq("_h"), "left_semi")
        suspects.join(histCand, Seq("_h", "text"), "left_anti")
      }
    sureNew.unionByName(confirmed).drop("_h")
  }

  /** Connected components over a candidate-pair graph — the step that
    * turns near-dup PAIRS into duplicate GROUPS: transitivity means a≈b
    * and b≈c must land a, b, c in ONE component even when (a, c) never
    * surfaced as a candidate, and "keep one per cluster" (component id =
    * the component's min doc_id, the canonical survivor) is only sound on
    * components, not pairs.
    *
    * Shape: iterative hash-min label propagation. Each round is one
    * join + one groupBy-min over (id, label) pairs — 8-byte rows, never
    * text — and the driver only ever sees a convergence COUNT, no data.
    * Rounds needed = the component diameter; near-dup clusters are
    * shallow balls in practice, and a pathological chain deeper than
    * `maxIter` fails LOUDLY (IllegalStateException naming the moving
    * label count) — never a silent partial labeling that would merge
    * some clusters and not others. Only vertices that appear in some
    * pair get a row — singleton docs need no component.
    *
    * Returns (doc_id, component) as an eagerly `localCheckpoint`ed
    * DataFrame: the iteration caches are unpersisted before returning
    * (Dataset caches are pinned by the CacheManager until explicitly
    * unpersisted — repeated calls would otherwise leak), and the result
    * carries no lineage back through the loop. Matches a union-find
    * oracle in OperatorsSpec and a DuckDB recursive-CTE oracle as
    * q_dedup_groups.
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame =
    connectedComponentsRounds(pairs, maxIter)._1

  /** `connectedComponents` plus the number of rounds actually run —
    * exposed so tests can assert the pointer-shortcut contraction (a
    * 2^k-deep chain must converge in ~k rounds, not 2^k).
    *
    * The iteration runs on RDD[(vertex, label)] pairs, not DataFrames:
    * a Catalyst loop pays full analysis + optimization + whole-stage
    * codegen compilation PLUS an eager localCheckpoint materialization
    * per round (the checkpoint was needed precisely because a DF
    * self-join doubles the logical plan every round), which measured
    * ~2 jobs and several hundred ms of fixed overhead per round at any
    * data size. The RDD rounds have no per-round planning at all, RDD
    * lineage is a shared DAG (a self-join does not duplicate it), and
    * one count triggers the whole round — so a round is ONE job over
    * 16-byte pairs. The distributed shape is unchanged: min-label
    * propagation over a fixed HashPartitioner, edges co-partitioned
    * once and never reshuffled, labels vertex-sized.
    *
    * Per round: (1) neighbor-min propagation `label(v) := min(label(v),
    * min over in-neighbors)` — the edges⋈labels join is co-partitioned
    * (zero shuffle), only the propagated (dst, label) pairs reshuffle
    * into the reduceByKey; (2) a pointer-shortcut hop `label :=
    * label(label)` — labels are vertex ids, so one label-sized join
    * reads each vertex's label's label. Shortcutting contracts a
    * chain-shaped component from diameter rounds to ~log₂(diameter):
    * labels decrease monotonically (min includes self) and label(v) ≤ v
    * always, so label(label(v)) ≤ label(v) and the fixpoint is
    * unchanged. Duplicate input pairs are harmless (min is idempotent),
    * so no distinct pass is spent on the edge list — every driver-path
    * caller feeds already-distinct pairs.
    *
    * Partition count: inherited from the candidate-pair plan (clamped
    * below by defaultParallelism at scale via the pairs' own shuffle),
    * so local fixture graphs run single-task rounds while a real
    * corpus's pair volume keeps its parallelism — nothing is tuned to
    * the local core count.
    */
  def connectedComponentsRounds(pairs: DataFrame,
      maxIter: Int = 20): (DataFrame, Int) = {
    val spark = pairs.sparkSession
    import spark.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val raw = pairs
      .select(col("doc_a").cast("long"), col("doc_b").cast("long"))
      .as[(Long, Long)].rdd
    val part = new org.apache.spark.HashPartitioner(
      math.max(1, raw.getNumPartitions))
    val edges = raw
      .flatMap { case (a, b) => Iterator((a, b), (b, a)) }
      .partitionBy(part)
      .persist(lvl)
    var labels = edges
      .mapPartitions(_.map(kv => (kv._1, kv._1)), preservesPartitioning = true)
      .reduceByKey(part, (a: Long, b: Long) => math.min(a, b)) // distinct vertices, label = self; no shuffle
      .persist(lvl)
    try {
      var iter = 0
      var changed = 1L
      while (changed > 0 && iter < maxIter) {
        val reduced = edges.join(labels) // co-partitioned: no shuffle
          .map { case (_, (dst, lbl)) => (dst, lbl) }
          .union(labels)
          .reduceByKey(part, (a: Long, b: Long) => math.min(a, b))
          .persist(lvl) // feeds BOTH sides of the shortcut join below
        // pointer shortcut: label values are vertex ids present in
        // `reduced`, so the inner join is total
        val short = reduced
          .map { case (v, l) => (l, v) }
          .join(reduced, part)
          .map { case (_, (v, ll)) => (v, ll) }
          .partitionBy(part)
          .persist(lvl)
        // ONE job: count moved labels vs the round's start (co-partitioned)
        changed = short.join(labels)
          .aggregate(0L)(
            (acc, kv) => if (kv._2._1 != kv._2._2) acc + 1 else acc,
            _ + _)
        reduced.unpersist()
        labels.unpersist()
        labels = short
        iter += 1
      }
      if (changed > 0) {
        // cap hit without converging: surface it loudly — a silent partial
        // labeling would merge some clusters and not others. Release the
        // last iteration's cache first: a caller that catches and retries
        // with a higher maxIter (as the message suggests) must not
        // accumulate one pinned RDD per failed attempt
        labels.unpersist()
        throw new IllegalStateException(
          s"connectedComponents: not converged after $maxIter iterations " +
            s"($changed labels still moving) — raise maxIter")
      }
      // freeze the result (eager localCheckpoint truncates the loop's
      // lineage and leaves no CacheManager/BlockManager entries pinned
      // once the RDD cache below is released)
      val frozen = labels.toDF("doc_id", "component").localCheckpoint(true)
      labels.unpersist()
      (frozen, iter)
    } finally edges.unpersist()
  }

  /** The end-to-end near-dup dedup most callers want: minhash-LSH
    * candidates → exact-Jaccard verify at `tau` → connected components →
    * keep each cluster's min-doc_id canonical plus every unpaired doc.
    * The non-survivor set is component-members-minus-canonicals — a
    * broadcast-sized fraction at any realistic dup rate — removed with
    * one anti-join on doc_id (8-byte keys; text never joins).
    */
  def dropNearDuplicates(docs: DataFrame, tau: Double): DataFrame = {
    val losers = connectedComponents(
      nearDuplicates(docs, tau).select("doc_a", "doc_b"))
      .filter(col("doc_id") =!= col("component"))
      .select("doc_id")
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  // ---- incremental NEAR-dedup against history (persisted band-key index) --

  /** The minhash band-key index rows for `docs`: (doc_id, band_key) —
    * `Bands` 16-byte rows per doc, the persisted artifact that makes
    * cross-batch NEAR-dedup incremental (the near-dup analog of
    * `withTextHash`'s 8-byte exact-dedup column). Written alongside the
    * accepted output once per batch; later batches probe it instead of
    * re-running LSH over the whole history corpus.
    */
  def bandIndexFor(docs: DataFrame): DataFrame = minhashKeys(docs)

  /** Append (default) or overwrite the band-key index at `path` with
    * `docs`' keys. The per-batch contract: after `incrementalNewNear`
    * accepts a batch's survivors, append exactly the survivors' keys —
    * each accepted doc must appear in the index exactly once.
    */
  def writeBandIndex(docs: DataFrame, path: String,
      mode: String = "append"): Unit =
    bandIndexFor(docs).write.mode(mode).parquet(path)

  def readBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.parquet(path)

  /** Compact the band-key index at `path` to distinct rows. Replays of
    * the crash-safe append order (TranscriptStream.processNearDedupBatch)
    * can leave a doc's keys in the index more than once — harmless for
    * correctness (deduped at probe time) but accumulated IO, so a
    * maintenance pass compacts offline. NOT safe concurrently with an
    * appending batch: run it between batches. Publish order is
    * crash-recoverable at every window: the compacted copy is fully
    * written to `<path>.compact` first, the live dir is staged aside to
    * `<path>.old`, the compacted dir renamed in, the stage deleted — a
    * crash leaves either the live dir, or a complete `.compact` to
    * rename in by hand (the error message names it), never nothing.
    */
  def compactBandIndex(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit = {
    val fsPath = new org.apache.hadoop.fs.Path(path)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val compact = new org.apache.hadoop.fs.Path(path + ".compact")
    val staged = new org.apache.hadoop.fs.Path(path + ".old")
    spark.read.parquet(path).distinct()
      .write.mode("overwrite").parquet(compact.toString)
    if (fs.exists(staged)) fs.delete(staged, true)
    require(fs.rename(fsPath, staged),
      s"compactBandIndex: could not stage $path aside")
    require(fs.rename(compact, fsPath),
      s"compactBandIndex: could not publish $compact — the live index was " +
        s"staged at $staged; recover by renaming $compact to $path")
    fs.delete(staged, true)
  }

  /** Incremental NEAR-dedup: the rows of `incoming` that survive
    * `dropNearDuplicates(history ∪ incoming, tau)` — computed WITHOUT
    * re-running LSH over history, by probing the batch's band keys
    * against the persisted `index` (= `bandIndexFor(history)`,
    * accumulated via `writeBandIndex`). The production per-batch flow:
    *
    * {{{
    * val idx = Dedup.readBandIndex(spark, idxPath)
    * val accepted = Dedup.incrementalNewNear(idx, history, batch, tau)
    * accepted.write.mode("append").parquet(historyPath)
    * Dedup.writeBandIndex(accepted, idxPath) // append survivors' keys
    * }}}
    *
    * Canonicalization is HISTORY-WINS: a batch doc whose near-dup
    * component contains ANY history member is dropped — regardless of
    * doc_id order — because a history doc is already accepted/published
    * and can never be retracted by a later batch; among batch-only
    * components the min-doc_id member survives (same rule as
    * `dropNearDuplicates`). History-wins is what makes the operator's
    * PRECONDITION — `history` internally near-dup-free at the same
    * (tau, signature) parameters — genuinely preserved by the documented
    * append flow: every survivor is (verified-edge-wise) non-near-dup to
    * history AND to its fellow survivors, so history ∪ survivors is again
    * near-dup-free. (Min-id canonicalization did NOT preserve it: a batch
    * survivor with a smaller id than its retained history near-dup would
    * plant a history-history near-pair whose bucket a later batch never
    * probes, silently rerouting that component's canonical.)
    *
    * Under the precondition, when every batch doc_id exceeds every
    * history doc_id (the natural monotone-id ingest — and what the
    * append flow produces when ids are assigned by arrival), the result
    * EQUALS the full recompute `dropNearDuplicates(history ∪ incoming,
    * tau) ∩ incoming`: a mixed component's min id is necessarily a
    * history doc, so min-id and history-wins agree (asserted against
    * that oracle in OperatorsSpec; the interleaved-id case is asserted
    * against an independent history-wins reference and golden-pinned as
    * q_dedup_inc_near). Only buckets containing a batch doc can
    * contribute a new verified edge, and the semi-probe recovers those
    * buckets' history members exactly.
    *
    * Scale shape (what never happens to the 100 TB side):
    * 1. the batch's distinct band keys prune the INDEX scan — broadcast
    *    semi below `maxBroadcastSuspects` probe keys, shuffled semi
    *    above (dup-heavy re-crawl); either way only 16-byte index rows
    *    of PROBED buckets move, history text is untouched;
    * 2. candidate pairs come from `pairsFromKeys` over probed-bucket
    *    members ∪ batch keys — identical bucket contents (and MaxBucket
    *    caps) to the full recompute, restricted to probed buckets;
    * 3. history TEXT is read only for the candidate ids the pairs name:
    *    zero candidates ⇒ history is never scanned at all (asserted with
    *    a poisoned-text frame in OperatorsSpec); ≤ `MaxPushdownMatches`
    *    candidates ⇒ a collected IN(doc_id) filter pushed into the
    *    parquet scan; larger sets stay distributed as a (broadcast or
    *    shuffled) LEFT SEMI on the 8-byte ids;
    * 4. exact-Jaccard verify + connected components + one anti-join on
    *    ids — same tail as `dropNearDuplicates`, over the candidate
    *    sliver only.
    *
    * NOTE: the probe/verify/CC phases run eagerly (sizing counts + the
    * convergence loop); the returned DataFrame is lazy.
    */
  def incrementalNewNear(index: DataFrame, history: DataFrame,
      incoming: DataFrame, tau: Double,
      maxBroadcastSuspects: Long = MaxBroadcastSuspects): DataFrame = {
    val spark = incoming.sparkSession
    val nIn = incoming.count()
    if (nIn == 0) return incoming
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    // signatures are the expensive per-doc compute — done ONCE per batch
    val inKeys = minhashKeys(incoming).persist(lvl)
    val pairs = {
      val small = nIn * Bands <= maxBroadcastSuspects
      val probe = inKeys.select("band_key").distinct()
      // semi-prune the index to probed buckets: the index side streams
      // through its scan, only probed-bucket rows continue
      // the probed sliver is deduped on (doc_id, band_key): a replayed
      // index append (crash between the index write and the history
      // append — see TranscriptStream.processNearDedupBatch) can leave a
      // doc's keys in the index twice, and collect_set in pairsFromKeys
      // plus this distinct make that harmless instead of bucket-inflating
      val relIdx = index.join(
          if (small) broadcast(probe) else probe.hint("shuffle_hash"),
          Seq("band_key"), "left_semi")
        .select("doc_id", "band_key")
        .distinct()
      pairsFromKeys(relIdx.unionByName(inKeys)).persist(lvl)
    }
    try {
      // candidate history ids = pair members that are not batch ids; the
      // batch id side is batch-sized, so it broadcasts into the anti-join
      val inIds = incoming.select("doc_id")
      val histCandIds = pairs
        .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
        .distinct()
        .join(if (nIn <= maxBroadcastSuspects) broadcast(inIds) else inIds,
          Seq("doc_id"), "left_anti")
        .persist(lvl)
      val nHist = histCandIds.count()
      val inSh = incoming.select(col("doc_id"),
        shinglesUdf(col("text")).as("sh"))
      val sh =
        if (nHist == 0) inSh // history (and its text) never scanned
        else if (nHist <= MaxPushdownMatches) {
          val ids = histCandIds.collect().map(_.getLong(0))
          inSh.unionByName(history
            .filter(col("doc_id").isin(ids.map(Long.box): _*))
            .select(col("doc_id"), shinglesUdf(col("text")).as("sh")))
        } else inSh.unionByName(history
          .join(if (nHist <= maxBroadcastSuspects) broadcast(histCandIds)
                else histCandIds.hint("shuffle_hash"),
            Seq("doc_id"), "left_semi")
          .select(col("doc_id"), shinglesUdf(col("text")).as("sh")))
      val verified = jaccardPairs(pairs, sh, tau).select("doc_a", "doc_b")
      // CC localCheckpoints its result, so the caches can be released as
      // soon as the convergence loop has run
      val labels = connectedComponents(verified)
      // history-wins canonicalization (see the contract note above). CC
      // vertices are candidate-sliver-sized, so these joins are tiny; a
      // vertex is a history member iff its id is not a batch id.
      val flagged = labels
        .join(if (nIn <= maxBroadcastSuspects)
                broadcast(inIds.withColumn("_b", lit(true)))
              else inIds.withColumn("_b", lit(true)),
          Seq("doc_id"), "left")
        .select(col("doc_id"), col("component"),
          coalesce(col("_b"), lit(false)).as("_isBatch"))
      val comps = flagged.groupBy("component")
        .agg(max(when(!col("_isBatch"), 1).otherwise(0)).as("_hasHist"),
          min(when(col("_isBatch"), col("doc_id"))).as("_minBatch"))
      val losers = flagged.filter(col("_isBatch"))
        .join(comps, "component")
        .filter(col("_hasHist") === 1 || col("doc_id") =!= col("_minBatch"))
        .select("doc_id")
      histCandIds.unpersist()
      incoming.join(losers, Seq("doc_id"), "left_anti")
    } finally {
      pairs.unpersist()
      inKeys.unpersist()
    }
  }

  /** Frequent-line sets (corpus-wide boilerplate) above this size abort
    * loudly rather than silently truncating the removal set or melting the
    * driver: real boilerplate is heavy-hitter-shaped (nav bars, cookie
    * banners, license headers — a set that grows with the number of SITES,
    * not the number of documents), so a breach means the line definition
    * is wrong for the corpus, not that the corpus is big.
    */
  final val MaxFrequentLines = 1000000

  /** Byte companion to `MaxFrequentLines`: the confirmed-boilerplate set
    * is collected to the driver and broadcast as a hash set, so it must be
    * bounded in BYTES, not just rows — 1M near-maximal lines could still
    * be hundreds of MB. The sum of line lengths is measured DISTRIBUTED,
    * before the collect, so a breach aborts without ever materializing
    * the oversized set on the driver. Same loud-failure contract as the
    * row cap: a breach means the line definition is degenerate for the
    * corpus.
    */
  final val MaxFrequentLineBytes: Long = 256L << 20

  /** Corpus-wide duplicate-line removal (the RefinedWeb/CCNet boilerplate
    * pass): drop EVERY occurrence of any line that appears in more than
    * `maxDocFreq` distinct documents, keeping each doc's remaining lines
    * in order. "Line" = a run of `wordsPerLine` whitespace tokens
    * (the fixture corpus is single-line, so fixed-width chunking is the
    * default line policy; `dedupLinesNewline` runs the identical three
    * phases over literal '\n'-delimited lines).
    *
    * Returns (doc_id, n_lines, n_kept, text_clean) for every input doc —
    * a doc whose every line is boilerplate survives with text_clean = ''.
    *
    * Scale shape (the 100 TB story), mirroring incremental dedup's
    * hash-prune + exact-confirm idiom:
    * 1. frequent-line DETECTION shuffles only (xxhash64(line), doc_id)
    *    pairs — 16 bytes/line, never line text — through a two-level
    *    countDistinct;
    * 2. the frequent HASHES (heavy hitters only: bounded by
    *    `MaxFrequentLines`, loud on breach) prune a second scan down to
    *    candidate lines, whose exact per-STRING doc-frequency is
    *    recounted — a 64-bit collision can promote a line into the
    *    candidate set but never past the exact recount;
    * 3. the confirmed boilerplate STRINGS broadcast as a plain hash set,
    *    and removal is a per-doc map-side array filter — the corpus text
    *    itself is never shuffled, and docs stay whole rows throughout (no
    *    explode/reassemble round trip).
    * Phases 1-2 run eagerly (two collect jobs, both cap-bounded); the
    * returned DataFrame is lazy.
    */
  /** Fixed-width "lines" (`k`-token chunks, space-rejoined) as a UDF: the
    * split/filter/grouped walk is one linear pass per doc (~2 µs/doc
    * measured), where the equivalent `transform(sequence, i -> slice)`
    * Column form paid ~10 µs PER LINE of interpreted re-slicing. The
    * split regex matches `regexp_extract_all(text, '\S+')` exactly (see
    * TextAnalysis.wsTokens); an empty/null doc yields ONE empty line.
    */
  private def chunkLinesUdf(k: Int) = udf((t: String) => {
    val toks = Option(t).getOrElse("").split("\\s+").filter(_.nonEmpty)
    if (toks.isEmpty) Seq("") else toks.grouped(k).map(_.mkString(" ")).toSeq
  })

  /** Sliding whitespace-token n-grams as a UDF (same measured rationale
    * as `chunkLinesUdf`); a doc with fewer than `n` tokens has NO n-gram.
    */
  private def ngramsUdf(n: Int) = udf((t: String) => {
    val toks = Option(t).getOrElse("").split("\\s+").filter(_.nonEmpty)
    toks.iterator.sliding(n).withPartial(false).map(_.mkString(" ")).toSeq
  })

  def dedupLinesCorpus(docs: DataFrame, wordsPerLine: Int = 8,
      maxDocFreq: Int = 2,
      maxFrequentLines: Int = MaxFrequentLines,
      maxFrequentBytes: Long = MaxFrequentLineBytes): DataFrame =
    dedupLinesByPolicy(docs, chunkLinesUdf(wordsPerLine)(col("text")), " ",
      maxDocFreq, maxFrequentLines, maxFrequentBytes)

  /** Newline-delimited line policy over the same three phases: a "line"
    * is a literal '\n'-separated segment (the natural policy for a corpus
    * whose documents contain real newlines; trailing empties kept —
    * limit −1), and the cleaned text is rejoined with '\n'. An empty/null
    * doc is ONE empty line, matching the fixed-width policy's ≥1-line
    * guarantee.
    */
  def dedupLinesNewline(docs: DataFrame, maxDocFreq: Int = 2,
      maxFrequentLines: Int = MaxFrequentLines,
      maxFrequentBytes: Long = MaxFrequentLineBytes): DataFrame =
    dedupLinesByPolicy(docs,
      split(coalesce(col("text"), lit("")), "\n", -1), "\n",
      maxDocFreq, maxFrequentLines, maxFrequentBytes)

  /** The shared detect→confirm skeleton of the corpus-wide heavy-hitter
    * removers (`dedupLinesByPolicy`, `dedupSpansCorpus` — any future
    * "drop items appearing in > maxDocFreq docs" pass delegates here
    * instead of copying the idiom):
    * - phase 1 (detect): `hashed` = (doc_id, _hh) rows — 16-byte shuffle
    *   payload, the only corpus-sized exchange — reduced by a two-level
    *   countDistinct; the heavy HASHES are row-capped and collected loud;
    * - phase 2 (confirm): `candidates(hashSet)` re-scans only hash HITS
    *   as (doc_id, item) STRING rows, whose exact per-string doc
    *   frequency is recounted — a 64-bit collision can promote an item
    *   into the candidate set but never past the recount. The confirmed
    *   set is cached distributed and SIZED (rows + utf-8 bytes) BEFORE
    *   any collect: phase 1 bounds the rows, but near-maximal strings
    *   could still breach driver/broadcast memory — the byte cap aborts
    *   while the set is still on the executors.
    * Returns the phase-1 hash broadcast (span removal reuses it as a
    * cheap prefilter) plus the confirmed strings. `noun` keeps each
    * caller's loud-failure messages specific ("frequent lines" /
    * "frequent spans": a cap breach means the item DEFINITION is
    * degenerate for the corpus, not that the corpus is big).
    */
  private def confirmedHeavyHitters(hashed: DataFrame,
      candidates: org.apache.spark.broadcast.Broadcast[Set[Long]] => DataFrame,
      maxDocFreq: Int, maxItems: Int, maxBytes: Long,
      opName: String, noun: String)
      : (org.apache.spark.broadcast.Broadcast[Set[Long]], Array[String]) = {
    val spark = hashed.sparkSession
    val hashes = hashed
      .groupBy("_hh").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("_hh")
      .limit(maxItems + 1).collect().map(_.getLong(0))
    require(hashes.length <= maxItems,
      s"$opName: > $maxItems $noun — the definition is degenerate for " +
        "this corpus (raise the cap only if the boilerplate set is " +
        "genuinely this large)")
    val hashSet = spark.sparkContext.broadcast(hashes.toSet)
    if (hashes.isEmpty) return (hashSet, Array.empty[String])
    val confirmedDf = candidates(hashSet) // (doc_id, item)
      .groupBy("item").agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") > maxDocFreq)
      .select("item")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val items =
      try {
        val stats = confirmedDf
          .agg(count(lit(1)).as("n"),
            coalesce(sum(octet_length(col("item"))), lit(0L)).as("bytes"))
          .head()
        require(stats.getLong(0) <= maxItems,
          s"$opName: > $maxItems confirmed $noun")
        require(stats.getLong(1) <= maxBytes,
          s"$opName: confirmed $noun set is ${stats.getLong(1)} bytes " +
            s"> cap $maxBytes — the definition is degenerate for this " +
            "corpus (raise the byte cap only if the boilerplate set is " +
            "genuinely this large)")
        confirmedDf.collect().map(_.getString(0))
      } finally confirmedDf.unpersist()
    (hashSet, items)
  }

  private def dedupLinesByPolicy(docs: DataFrame, linesCol: Column,
      sep: String, maxDocFreq: Int, maxFrequentLines: Int,
      maxFrequentBytes: Long): DataFrame = {
    val spark = docs.sparkSession
    val exploded = docs.select(col("doc_id"), explode(linesCol).as("line"))
    val (_, freqLines) = confirmedHeavyHitters(
      exploded.select(col("doc_id"), xxhash64(col("line")).as("_hh")),
      hs => {
        val hashHit = udf((h: Long) => hs.value.contains(h))
        exploded.filter(hashHit(xxhash64(col("line"))))
          .select(col("doc_id"), col("line").as("item"))
      },
      maxDocFreq, maxFrequentLines, maxFrequentBytes,
      "dedupLinesCorpus", "frequent lines")
    if (freqLines.isEmpty)
      return docs.select(col("doc_id"), size(linesCol).as("n_lines"),
        size(linesCol).as("n_kept"), concat_ws(sep, linesCol).as("text_clean"))
    // phase 3: map-side removal — one broadcast set probe per line, doc
    // rows never shuffle
    val freqSet = spark.sparkContext.broadcast(freqLines.toSet)
    val keepLines = udf((lines: Seq[String]) =>
      lines.filterNot(freqSet.value.contains))
    docs
      .select(col("doc_id"), linesCol.as("_lines"))
      .withColumn("_kept", keepLines(col("_lines")))
      .select(col("doc_id"), size(col("_lines")).as("n_lines"),
        size(col("_kept")).as("n_kept"),
        concat_ws(sep, col("_kept")).as("text_clean"))
  }

  /** 64-bit hash of the k-token window starting at `s` — computed by
    * mixing per-token hashes, so detection never materializes window
    * STRINGS (a k× text amplification at corpus scale); strings are built
    * only for confirmed-hash hits.
    */
  private def spanHashAt(toks: Array[String], s: Int, k: Int): Long = {
    var h = 1125899906842597L
    var i = s
    while (i < s + k) {
      h = core.Lcg.mix(h, core.Murmur3.hashString(toks(i)).toLong)
      i += 1
    }
    h
  }

  private def wsToksOf(t: String): Array[String] =
    Option(t).getOrElse("").split("\\s+").filter(_.nonEmpty)

  /** Corpus-wide duplicated-SPAN removal (the "exact substring" dedup of
    * Lee et al. 2022 / RefinedWeb's ExactSubStr pass, token-windowed):
    * drop every token covered by ANY `k`-token window whose exact text
    * appears in more than `maxDocFreq` distinct documents, keeping each
    * doc's remaining tokens in order. Catches copied PASSAGES inside
    * otherwise-unique documents — the case whole-doc near-dedup (minhash)
    * structurally misses. Returns (doc_id, n_tokens, n_kept, text_clean)
    * for every input doc; docs with fewer than `k` tokens have no window
    * and pass through whole.
    *
    * Scale shape, the same three-phase hash-prune / exact-confirm /
    * broadcast-remove idiom as `dedupLinesCorpus`:
    * 1. detection shuffles only (64-bit window hash, doc_id) pairs —
    *    window hashes are mixed from per-token hashes, so no window
    *    string is ever materialized corpus-wide;
    * 2. the frequent HASHES (row-capped, loud) prune a second scan to
    *    candidate windows, whose exact per-STRING doc-frequency is
    *    recounted — a hash collision can promote a window into the
    *    candidate set but never past the recount; the confirmed-string
    *    set is row- AND byte-capped distributed before any collect;
    * 3. removal is one map-side pass per doc: re-mix each window's hash
    *    (cheap integer work), build the window string ONLY on a hash-set
    *    hit, confirm against the string set, and mark the covered token
    *    range — corpus text never shuffles.
    * Exact string semantics end-to-end ⇒ DuckDB pins it as q_dedup_spans.
    * Phases 1-2 run eagerly (cap-bounded collects); the returned
    * DataFrame is lazy (the driver query wraps it in a LazyFrame).
    */
  def dedupSpansCorpus(docs: DataFrame, k: Int = 16, maxDocFreq: Int = 1,
      maxFrequentSpans: Int = MaxFrequentLines,
      maxFrequentBytes: Long = MaxFrequentLineBytes): DataFrame = {
    require(k >= 2, s"window must span at least 2 tokens: $k")
    val spark = docs.sparkSession
    val hashesUdf = udf((t: String) => {
      val toks = wsToksOf(t)
      if (toks.length < k) Array.empty[Long]
      else Array.tabulate(toks.length - k + 1)(spanHashAt(toks, _, k))
    })
    def passthrough: DataFrame = {
      val n = size(operators.TextAnalysis.wsTokens(col("text")))
      docs.select(col("doc_id"), n.as("n_tokens"), n.as("n_kept"),
        concat_ws(" ", operators.TextAnalysis.wsTokens(col("text"))).as("text_clean"))
    }
    // phases 1-2 via the shared skeleton; phase-2 strings are built only
    // for hash HITS (the sliver), rescuing 64-bit collisions — the span
    // hashes come from the token-mix (spanHashAt), so detection never
    // materializes window strings corpus-wide
    val (hashSet, freqSpans) = confirmedHeavyHitters(
      docs.select(col("doc_id"), explode(hashesUdf(col("text"))).as("_hh")),
      hs => {
        val candSpansUdf = udf((t: String) => {
          val toks = wsToksOf(t)
          if (toks.length < k) Seq.empty[String]
          else (0 to toks.length - k).iterator
            .filter(s => hs.value.contains(spanHashAt(toks, s, k)))
            .map(s => toks.slice(s, s + k).mkString(" "))
            .toSeq
        })
        docs.select(col("doc_id"), explode(candSpansUdf(col("text"))).as("item"))
      },
      maxDocFreq, maxFrequentSpans, maxFrequentBytes,
      "dedupSpansCorpus", "frequent spans")
    if (freqSpans.isEmpty) return passthrough
    // phase 3: map-side cover-and-drop — hash prefilter per window, string
    // confirm on hits, tokens never shuffle
    val spanSet = spark.sparkContext.broadcast(freqSpans.toSet)
    val removeUdf = udf((t: String) => {
      val toks = wsToksOf(t)
      val n = toks.length
      val cover = new Array[Boolean](n)
      if (n >= k) {
        var s = 0
        while (s + k <= n) {
          if (hashSet.value.contains(spanHashAt(toks, s, k)) &&
              spanSet.value.contains(toks.slice(s, s + k).mkString(" "))) {
            var i = s
            while (i < s + k) { cover(i) = true; i += 1 }
          }
          s += 1
        }
      }
      val kept = toks.indices.filterNot(cover)
      (n, kept.length, kept.map(toks).mkString(" "))
    })
    docs
      .select(col("doc_id"), removeUdf(col("text")).as("_r"))
      .select(col("doc_id"), col("_r._1").as("n_tokens"),
        col("_r._2").as("n_kept"), col("_r._3").as("text_clean"))
  }

  /** Benchmark decontamination (the GPT-3/PaLM-style n-gram overlap scan):
    * flag every corpus doc that shares at least one `n`-word-token n-gram
    * with any document of `bench` (the held-out eval set). Returns
    * (doc_id, contaminated) for every doc in `docs`.
    *
    * Scale shape: the benchmark side is eval-suite-sized — its distinct
    * n-gram set broadcasts — so the corpus side explodes its n-grams
    * map-side into a broadcast LEFT SEMI probe and only 8-byte doc_ids
    * reach the one real shuffle (the distinct on hit ids). Corpus text is
    * scanned once and never shuffled; a no-hit partition emits nothing.
    * A doc with fewer than `n` tokens has no n-gram and is trivially
    * clean. Drop-vs-flag is the caller's choice: `docs.join(hits,
    * "left_anti")` drops, this returns flags so audits can count
    * contamination by source first.
    */
  def decontaminate(docs: DataFrame, bench: DataFrame, n: Int = 5): DataFrame = {
    def grams(d: DataFrame): DataFrame =
      d.select(col("doc_id"), explode(ngramsUdf(n)(col("text"))).as("gram"))
    val benchGrams = grams(bench).select("gram").distinct()
    val hitIds = grams(docs)
      .join(broadcast(benchGrams), Seq("gram"), "left_semi")
      .select("doc_id")
    flagContaminated(docs, hitIds)
  }

  /** (doc_id, contaminated) for every doc of `docs`, true iff the id is in
    * `hitIds` — the shared tail of both decontamination tiers, so the flag
    * contract can never drift between them.
    */
  private def flagContaminated(docs: DataFrame, hitIds: DataFrame): DataFrame = {
    val hits = hitIds.distinct().withColumn("_hit", lit(true))
    docs.select("doc_id")
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("_hit"), lit(false)).as("contaminated"))
  }

  /** Fuzzy cross-corpus decontamination: flag every corpus doc whose
    * shingle-Jaccard with ANY document of `bench` (the held-out eval set)
    * is ≥ `tau` — the paraphrase-robust complement to `decontaminate`'s
    * exact n-gram overlap (a reworded eval item shares few exact 5-grams
    * but keeps high shingle Jaccard). Returns (doc_id, contaminated) for
    * every doc in `docs`.
    *
    * Scale shape, same contract as `decontaminate` (bench is
    * eval-suite-sized): the bench side's minhash band keys AND shingle
    * sets broadcast; corpus band keys probe the broadcast map-side, so
    * candidate (doc_id, bench_id) pairs are generated without shuffling
    * text; the candidate id set (eval-overlap-sized under the same
    * contract) broadcasts back as a LEFT SEMI to prune the corpus shingle
    * scan, so corpus text/shingles never shuffle, and the exact-Jaccard
    * verify touches only the pruned sliver. Recall follows the minhash
    * banding curve (an exact clone of a bench doc agrees on every band
    * and can never be missed); precision is exact — every flag is a
    * verified true-Jaccard ≥ tau.
    *
    * Shingle-less docs (< ShingleN word tokens, incl. empty/whitespace)
    * are trivially clean on BOTH sides — same contract as
    * `decontaminate`'s too-short docs: with no shingles there is no
    * content to leak, and without the filter every shingle-less doc
    * shares the degenerate all-sentinel minhash signature, so one empty
    * eval item would flag every empty corpus doc (empty∩empty Jaccard
    * is 1.0 by convention).
    */
  def decontaminateFuzzy(docs: DataFrame, bench: DataFrame,
      tau: Double): DataFrame = {
    def hasShingles(d: DataFrame): DataFrame =
      d.filter(size(shinglesUdf(col("text"))) > 0)
    val benchKeys = hasShingles(bench).select(col("doc_id").as("bench_id"),
      explode(bandKeysUdf(col("text"))).as("band_key"))
    val cand = minhashKeys(hasShingles(docs))
      .join(broadcast(benchKeys), Seq("band_key"))
      .select("doc_id", "bench_id").distinct()
    // the distinct shrinks the broadcast (a doc can candidate with many
    // bench items); the broadcast hint matters — cand derives from a join,
    // so without it the planner has no size estimate and would sort-merge
    // the semi, shuffling corpus text by doc_id
    val docSh = docs
      .join(broadcast(cand.select("doc_id").distinct()), Seq("doc_id"), "left_semi")
      .select(col("doc_id"), shinglesUdf(col("text")).as("sh_a"))
    val benchSh = bench.select(col("doc_id").as("bench_id"),
      shinglesUdf(col("text")).as("sh_b"))
    val hitIds = cand
      .join(docSh, "doc_id")
      .join(broadcast(benchSh), "bench_id")
      .filter(jaccardUdf(col("sh_a"), col("sh_b")) >= tau)
      .select("doc_id")
    flagContaminated(docs, hitIds)
  }

  /** MaxBucket-cap observability over any pre-keyed (doc_id, band_key)
    * tier — "no silent truncation" holds for minhash, simhash AND the
    * embedding-LSH tier (Similarity.embeddingBucketStats): any bucket
    * `pairsFromKeys` would drop at this tier's cap shows up in n_capped.
    */
  def bucketStatsFromKeys(keyed: DataFrame,
      maxBucket: Int = MaxBucket): DataFrame =
    keyed.groupBy("band_key").agg(count(lit(1)).as("n"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(when(col("n") > maxBucket, 1).otherwise(0)).as("n_capped"),
        max("n").as("max_bucket"))

  /** Cap observability for the minhash tier. */
  def bucketStats(docs: DataFrame): DataFrame =
    bucketStatsFromKeys(minhashKeys(docs))

  /** Cap observability for the simhash tier (at ITS cap, SimhashMaxBucket). */
  def simhashBucketStats(docs: DataFrame): DataFrame =
    bucketStatsFromKeys(simhashKeys(docs), SimhashMaxBucket)
}
