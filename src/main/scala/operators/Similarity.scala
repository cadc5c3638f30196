package operators

import core.VecOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (vec_id: long, embedding: array<float>).
  *
  * - `bruteForceTopK` is the correctness baseline: broadcast the (small)
  *   query set against the full table — one pass, no shuffle of the corpus,
  *   top-k via per-query window. O(Q·N) dot products, embarrassingly
  *   parallel; this is exactly how you'd score 100 TB against a handful of
  *   probes.
  * - `ivfTopK` is the scale path: a deterministic IVF index — C centroids
  *   (k-means-style refined from a deterministic seed set), each vector
  *   assigned to its nearest centroid (one narrow column added at rest;
  *   at production scale this is the partition key), queries probe only
  *   the nProbe nearest centroid buckets ⇒ the corpus-side scan shrinks to
  *   nProbe/C of the data. Recall vs brute force is asserted in tests —
  *   approximation is measured, never assumed.
  */
object Similarity {

  /** Banded hyperplane-LSH defaults: `Tables` independent `Bits`-bit
    * signature tables. Mirrors the minhash band design (Dedup.Bands/Rows):
    * a near-dup pair only needs to agree on ALL bits of SOME table, so
    * recall is 1-(1-p^Bits)^Tables instead of a single table's p^Bits; and
    * the per-bucket MaxBucket cap saturates per TABLE, so a pair dropped
    * from one table's hot bucket can still surface via another table.
    * A single 16-bit table has only 65,536 buckets globally — at 10⁹+
    * vectors every bucket overflows the cap and recall collapses; 8 tables
    * × 16 bits gives 2²⁰ buckets and 8 independent chances per pair.
    */
  final val Tables = 8
  final val Bits = 16

  private val cosUdf = udf((a: Seq[Float], b: Seq[Float]) =>
    VecOps.cosine(a.toArray, b.toArray))

  /** Rank the per-query candidate stream: top-k by (cos DESC, vec_id ASC)
    * via the bounded-heap aggregate. Map-side combine ships ≤ k rows per
    * (task, query) — scale-safe for MANY queries, unlike a window over
    * partitionBy(q_id), which funnels every candidate of a query through
    * one reducer partition.
    */
  private def rankTopK(scored: DataFrame, k: Int): DataFrame =
    scored // (q_id, cos, vec_id)
      .groupBy("q_id")
      .agg(TopKByScore(col("cos"), col("vec_id"), k).as("top"))
      .select(col("q_id"), posexplode(col("top")).as(Seq("pos", "t")))
      .select(col("q_id"), (col("pos") + 1).cast("int").as("rank"),
        col("t.id").as("vec_id"))

  /** Exact cosine top-k of each query vector against the corpus.
    * `queries`/`corpus`: (vec_id, embedding). Excludes self-matches.
    * The query side is broadcast, so it must be driver-memory bounded
    * (≲10⁵ rows); the corpus side streams and is never shuffled — only
    * the k survivors per (task, query) move.
    */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val c = corpus.select(col("vec_id"), col("embedding"))
    rankTopK(
      c.join(broadcast(q), col("vec_id") =!= col("q_id"))
        .select(col("q_id"), cosUdf(col("q_emb"), col("embedding")).as("cos"),
          col("vec_id")),
      k)
  }

  /** Deterministic centroids in exactly ONE corpus scan: a hash-ordered
    * top-`sampleCap` sample (TakeOrderedAndProject — per-partition bounded
    * heaps, no global sort, no count() pre-pass) is collected once, then
    * seeding and one Lloyd refinement run driver-side over the cap-bounded
    * sample (≤ sampleCap·dim floats ≈ 16 MB at the defaults). Centroid
    * quality does not need the full corpus; the full data is only ever
    * read again by the assignment pass in `ivfTopK`.
    */
  def centroids(spark: SparkSession, corpus: DataFrame, c: Int,
      sampleCap: Int = 65536): Array[(Int, Array[Float])] = {
    val sample: Array[(Long, Array[Float])] = corpus
      .select(col("vec_id"), col("embedding"))
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(sampleCap)
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    require(sample.nonEmpty, "centroids: empty corpus")
    // seed with the c lowest vec_ids of the sample (stable across runs)
    val seed = sample.sortBy(_._1).take(c).map(_._2)
    val dim = seed.head.length
    val sums = Array.fill(seed.length)(new Array[Double](dim))
    val counts = new Array[Long](seed.length)
    sample.foreach { case (_, e) =>
      var best = 0; var bestD = Double.MaxValue
      var i = 0
      while (i < seed.length) {
        val d = VecOps.l2sq(seed(i), e)
        if (d < bestD) { bestD = d; best = i }
        i += 1
      }
      counts(best) += 1
      val s = sums(best)
      var j = 0
      val n = math.min(e.length, dim)
      while (j < n) { s(j) += e(j); j += 1 }
    }
    seed.indices.map { i =>
      if (counts(i) == 0L) i -> seed(i)
      else i -> sums(i).map(v => (v / counts(i)).toFloat)
    }.toArray
  }

  /** A built IVF index: the centroid table plus the corpus with its
    * assigned centroid id — the expensive one-scan artifact that query
    * batches share. `assigned` is persisted (memory-and-disk) when built
    * via `buildIvfIndex(persist = true)`; at production scale it is a
    * written table partitioned by `cid` (the docstring contract the
    * build/query split makes real: assignment happens once per corpus
    * version, not once per query batch).
    */
  final case class IvfIndex(centroids: Array[(Int, Array[Float])],
      assigned: DataFrame)

  /** Build the IVF index: one corpus scan assigns every vector to its
    * nearest centroid. Reusable across `queryIvf` batches.
    */
  def buildIvfIndex(spark: SparkSession, corpus: DataFrame, c: Int = 16,
      sampleCap: Int = 65536, persist: Boolean = true): IvfIndex = {
    val cents = centroids(spark, corpus, c, sampleCap)
    val bc = spark.sparkContext.broadcast(cents)
    val assignUdf = udf((emb: Seq[Float]) => {
      val e = emb.toArray
      var best = 0; var bestD = Double.MaxValue
      for ((cid, cv) <- bc.value) {
        val d = VecOps.l2sq(cv, e)
        if (d < bestD) { bestD = d; best = cid }
      }
      best
    })
    val assigned = corpus
      .withColumn("cid", assignUdf(col("embedding")))
      .select(col("vec_id"), col("embedding"), col("cid"))
    IvfIndex(cents,
      if (persist)
        assigned.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else assigned)
  }

  /** Persist a built index as tables — the production layout the
    * build/query split promises (assignment happens once per corpus
    * version, query batches share the artifact across JOBS, not just
    * within one session's cache): the assignment parquet is written
    * PARTITIONED BY `cid`, so a query batch's nProbe bucket probe reads
    * nProbe/C of the corpus via partition layout rather than a filter
    * over a cache; the centroids land in a tiny sidecar table
    * (C rows — one file). `readIvfIndex(path)` must yield identical
    * `queryIvf` output to the in-memory index (round-trip asserted in
    * OperatorsSpec).
    */
  def writeIvfIndex(index: IvfIndex, path: String): Unit = {
    val spark = index.assigned.sparkSession
    import spark.implicits._
    index.assigned
      .write.mode("overwrite").partitionBy("cid").parquet(s"$path/assigned")
    index.centroids.toSeq.map { case (cid, c) => (cid, c.toSeq) }
      .toDF("cid", "centroid")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
  }

  /** Read a persisted index back. Centroids are re-sorted by cid: probe
    * selection breaks distance ties toward the EARLIER array entry, so the
    * array order is part of the index's semantics.
    */
  def readIvfIndex(spark: SparkSession, path: String): IvfIndex = {
    val cents = spark.read.parquet(s"$path/centroids")
      .collect()
      .map(r => (r.getAs[Int]("cid"),
        r.getAs[scala.collection.Seq[Float]]("centroid").toArray))
      .sortBy(_._1)
    IvfIndex(cents, spark.read.parquet(s"$path/assigned")
      .select(col("vec_id"), col("embedding"), col("cid")))
  }

  /** Query a built index: probe the nProbe nearest centroid buckets per
    * query, exact cosine within the probed subset. Probe selection is a
    * bounded partial select — O(C·nProbe) with no allocation-per-centroid
    * sort, so a production-sized C (4096+) costs a linear scan, not a
    * C·log C sort per query row. Ties on distance keep the lower centroid
    * id (identical to the previous full-sort semantics).
    */
  def queryIvf(index: IvfIndex, queries: DataFrame, k: Int,
      nProbe: Int = 4): DataFrame = {
    val spark = queries.sparkSession
    val bc = spark.sparkContext.broadcast(index.centroids)
    val probeUdf = udf((emb: Seq[Float]) => {
      val e = emb.toArray
      val cents = bc.value
      val n = math.min(nProbe, cents.length)
      val bestIds = new Array[Int](n)
      val bestD = new Array[Double](n)
      var filled = 0
      var i = 0
      while (i < cents.length) {
        val d = VecOps.l2sq(cents(i)._2, e)
        // strict '<' at the boundary: an equal-distance later centroid
        // never displaces an earlier (lower-id) one — matches sortBy(d, cid)
        if (filled < n || d < bestD(n - 1)) {
          var j = math.min(filled, n - 1)
          while (j > 0 && bestD(j - 1) > d) {
            bestD(j) = bestD(j - 1); bestIds(j) = bestIds(j - 1); j -= 1
          }
          bestD(j) = d; bestIds(j) = cents(i)._1
          if (filled < n) filled += 1
        }
        i += 1
      }
      bestIds.take(filled)
    })
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
      explode(probeUdf(col("embedding"))).as("cid"))
    rankTopK(
      index.assigned.join(broadcast(q), Seq("cid"))
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), cosUdf(col("q_emb"), col("embedding")).as("cos"),
          col("vec_id")),
      k)
  }

  /** One-shot IVF ANN (build + query, nothing persisted) — the demo/driver
    * entry point; batch consumers should `buildIvfIndex` once and
    * `queryIvf` per batch.
    */
  def ivfTopK(spark: SparkSession, queries: DataFrame, corpus: DataFrame,
      k: Int, c: Int = 16, nProbe: Int = 4,
      sampleCap: Int = 65536): DataFrame =
    queryIvf(buildIvfIndex(spark, corpus, c, sampleCap, persist = false),
      queries, k, nProbe)

  /** Deterministic hyperplanes for table `t`, bit `b`. Table 0 reproduces
    * the original single-table planes (seed stream Lcg.mix(1234, b)), so
    * `lshBuckets` output is stable across the banding change.
    */
  private def planesFor(tables: Int, bits: Int, dim: Int): Array[Array[Array[Float]]] =
    Array.tabulate(tables, bits) { (t, b) =>
      val rng = new core.Lcg(core.Lcg.mix(1234L + 7919L * t, b.toLong))
      Array.fill(dim)((rng.nextDouble() * 2 - 1).toFloat)
    }

  /** Banded hyperplane-LSH keys: one (vec_id, band_key) row per table, with
    * band_key = tableId·2^bits + signature — disjoint key spaces per table,
    * directly consumable by Dedup.pairsFromKeys / bucketStatsFromKeys.
    * Computed per-row with NO shuffle; the only bytes that ever shuffle
    * downstream are (band_key, vec_id) pairs, never the vectors.
    */
  def hyperplaneKeys(corpus: DataFrame, tables: Int = Tables,
      bits: Int = Bits, dim: Int = 64): DataFrame = {
    require(bits <= 30, s"bits must fit an int signature, got $bits")
    val planes = planesFor(tables, bits, dim)
    val keysUdf = udf((emb: Seq[Float]) => {
      val e = emb.toArray
      Array.tabulate(tables) { t =>
        var sig = 0L
        var b = 0
        while (b < bits) {
          if (VecOps.dot(planes(t)(b), e) >= 0) sig |= (1L << b)
          b += 1
        }
        (t.toLong << bits) | sig
      }
    })
    corpus.select(col("vec_id"), explode(keysUdf(col("embedding"))).as("band_key"))
  }

  /** Embedding-cosine near-duplicate pairs: banded hyperplane-LSH bucket
    * mates verified with exact cosine ≥ tau. Same scale shape as the text
    * dedup tiers (Dedup.scala): the bucket shuffle moves (band_key, vec_id)
    * pairs — never the vectors — and only candidate ids re-join their
    * embeddings. Identical vectors agree on every table, and a pair lost to
    * one table's MaxBucket cap can still surface via another table; cap
    * drops are observable via `embeddingBucketStats`, never silent.
    * Recall for cosine-θ pairs is 1-(1-(1-θ/π)^bits)^tables — measured
    * against planted near-duplicates in OperatorsSpec, not assumed.
    */
  def embeddingNearDuplicates(corpus: DataFrame, tau: Double,
      tables: Int = Tables, bits: Int = Bits, dim: Int = 64): DataFrame = {
    val keyed = hyperplaneKeys(corpus, tables, bits, dim)
      .select(col("vec_id").as("doc_id"), col("band_key"))
    Dedup.verifyPairs(Dedup.pairsFromKeys(keyed),
      corpus.select(col("vec_id"), col("embedding")), "cos", cosUdf(_, _), _ >= tau)
  }

  /** SemDeDup-style semantic dedup, end-to-end (the embedding analog of
    * `Dedup.dropNearDuplicates`): cosine-near-duplicate PAIRS from the
    * banded hyperplane LSH → duplicate GROUPS via connected components →
    * keep each group's min-vec_id canonical plus every unpaired vector.
    *
    * Candidate generation is the banded LSH, NOT the paper's
    * within-k-means-cluster all-pairs: all-pairs inside a cluster is
    * O((corpus/C)²) per cluster — quadratic in corpus size at fixed C —
    * while the banded buckets bound pair work per bucket (MaxBucket,
    * drops observable via `embeddingBucketStats`) and recall for
    * cosine-θ pairs is the measured 1-(1-(1-θ/π)^bits)^tables. The
    * pruning decision (one canonical per semantic cluster) is exactly
    * SemDeDup's. Non-survivors are component-members-minus-canonicals —
    * broadcast-sized at realistic dup rates — removed by one anti-join
    * on 8-byte vec_ids; embeddings never join into the decision path.
    */
  def dropSemanticDuplicates(corpus: DataFrame, tau: Double,
      tables: Int = Tables, bits: Int = Bits, dim: Int = 64): DataFrame = {
    val losers = Dedup.connectedComponents(
      embeddingNearDuplicates(corpus, tau, tables, bits, dim)
        .select("doc_a", "doc_b"))
      .filter(col("doc_id") =!= col("component"))
      .select(col("doc_id").as("vec_id"))
    corpus.join(losers, Seq("vec_id"), "left_anti")
  }

  /** Cluster-balanced diversity sampling — the COVERAGE complement to
    * SemDeDup: semantic dedup removes redundancy, this keeps
    * representation by selecting per-CLUSTER over the embedding space.
    * `assigned` is any (idCol, cid) assignment — canonically the IVF
    * index's cid column (`buildIvfIndex(...).assigned` or the persisted
    * cid-partitioned table from `writeIvfIndex`), so the expensive
    * cluster structure is computed once per corpus version and reused by
    * dedup, ANN and sampling alike. Keeps the top `k` rows per cluster
    * by (`score` DESC, id ASC); for a deterministic "diverse k per
    * cluster" pick, pass a pure id-scramble score.
    *
    * Scale shape: delegates to `Sampling.capPerSource`'s bounded-heap
    * TypedImperativeAggregate — each task ships at most k (score, id)
    * entries per cluster, so a skewed cluster (half the corpus in one
    * semantic blob is exactly when you want balanced sampling) costs
    * O(tasks · k), never a window funnel. Null scores never rank (the
    * capPerSource contract).
    */
  def sampleByCluster(assigned: DataFrame, k: Int,
      score: org.apache.spark.sql.Column,
      idCol: String = "vec_id"): DataFrame =
    Sampling.capPerSource(assigned, "cid", score, idCol, k)

  /** Budgeted variant: α-tempered per-cluster keep RATES instead of a
    * fixed per-cluster k — `Sampling.mixingPlan` over cid with weight 1
    * per doc (α < 1 up-weights small clusters exactly the way LLM corpus
    * mixes up-weight small sources; α = 0 is uniform-over-clusters, the
    * cluster-balanced limit), applied as the deterministic purpose-salted
    * bucket filter of `applyMixingPlan`. Pure projection + two broadcast
    * joins — zero corpus shuffle, reproducible run-over-run.
    */
  def sampleByClusterBudget(assigned: DataFrame, alpha: Double,
      budgetDocs: Long, idCol: String = "vec_id"): DataFrame =
    Sampling.applyMixingPlan(assigned,
      Sampling.mixingPlan(assigned, "cid", lit(1L), alpha, budgetDocs),
      "cid", idCol)

  /** MaxBucket-cap observability for the embedding-LSH tier (the "no silent
    * caps" rule): n_buckets / n_capped / max_bucket over the banded keys.
    */
  def embeddingBucketStats(corpus: DataFrame, tables: Int = Tables,
      bits: Int = Bits, dim: Int = 64): DataFrame =
    Dedup.bucketStatsFromKeys(
      hyperplaneKeys(corpus, tables, bits, dim)
        .select(col("vec_id").as("doc_id"), col("band_key")))

  /** Single-table random-hyperplane bucketing (table 0 of the banded
    * design): the cheap "which bucket is this vector in" demo/diagnostic.
    * Pairwise near-dup goes through `embeddingNearDuplicates`, which bands
    * over `Tables` such tables.
    */
  def lshBuckets(corpus: DataFrame, bits: Int = 16, dim: Int = 64): DataFrame = {
    val planes = planesFor(1, bits, dim)(0)
    val sigUdf = udf((emb: Seq[Float]) => {
      val e = emb.toArray
      var sig = 0
      var b = 0
      while (b < planes.length) {
        if (VecOps.dot(planes(b), e) >= 0) sig |= (1 << b)
        b += 1
      }
      sig
    })
    corpus.withColumn("bucket", sigUdf(col("embedding")))
  }
}
