package graft.sim

import graft.dedup.Dedup
import graft.util.AtomicStore
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column
  * (builder north-star scope).
  *
  * Baseline: brute-force cosine top-k (exact — also the oracle).
  * Scale path: random-hyperplane LSH bucketing — vectors only meet inside
  * a bucket, so the join is |bucket|² not n², and bucket signatures are
  * deterministic (fixed seed) for reproducible runs.
  */
object Similarity {

  private def asDouble(vecCol: Column): Column = transform(vecCol, _.cast("double"))

  /** Exact top-k neighbors of one query vector (broadcast as a literal) —
    * single scan + top-k, no shuffle of the corpus.
    */
  def topKForVector(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Double],
      k: Int
  ): DataFrame = {
    val q = typedLit(query)
    df.select(col(idCol), Dedup.cosine(asDouble(col(vecCol)), q).as("cosine"))
      .orderBy(col("cosine").desc, col(idCol))
      .limit(k)
  }

  /** Exact k-NN join: top-k neighbors for every vector via blocked
    * cross-join + ranking window. O(n²) compare — correct baseline and
    * oracle; use [[lshTopK]] beyond ~10⁵ vectors.
    */
  def knnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val a = v.select(col(idCol).as("id1"), col("v").as("v1"))
    val b = v.select(col(idCol).as("id2"), col("v").as("v2"))
    val sims = a.crossJoin(b).where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"),
        Dedup.cosine(col("v1"), col("v2")).as("cosine"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Symmetric int8 scalar quantization of an embedding: l2-normalize,
    * then `round(x · 127)` per dimension into a tinyint array. |x| ≤ 1
    * after normalization, so ±127 is never exceeded and the scale is the
    * FIXED constant 1/127 — no data-dependent calibration pass, codes
    * written today comparable with codes written next year. 4× smaller
    * than float32 (8× vs double): the storage/bandwidth compression tier
    * below PQ (which is ~dim/m× but needs a trained codebook).
    */
  def sqEncode(vecCol: Column): Column =
    graft.plans.Expressions.sq8_encode(asDouble(vecCol))

  /** Top-k by quantized cosine: every (query, corpus) score is one fused
    * int8 dot ([[graft.plans.Expressions.Int8Dot]]); approx_cos =
    * dot/127². Exact integer scores make ranking fully deterministic
    * (ties by id) and bit-replayable by an external checker. Brute-force
    * over CODES — same O(n·q) compare count as [[knnJoin]] but scanning
    * 8× fewer bytes; compose with IVF cells for sublinear candidate
    * counts at corpus scale. The ranking window plans partial+final
    * WindowGroupLimit, so ≤k rows per query leave each partition.
    */
  def sqTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
             vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("id"), sqEncode(col(vecCol)).as("c8"))
    val q = queries.select(col(idCol).as("query_id"),
      sqEncode(col(vecCol)).as("q8"))
    val scored = c.join(broadcast(q), col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        graft.plans.Expressions.int8_dot(col("q8"), col("c8")).as("dot"))
      .withColumn("approx_cos", col("dot").cast("double") / lit(127.0 * 127.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** SQ×IVF composition — the scale form [[sqTopK]]'s own doc promises:
    * IVF cells prune the candidate set (each query scores only the
    * vectors in its `nprobe` probed cells — n·nprobe/nlist candidates
    * instead of n), int8 codes score them (same fused integer dot, same
    * fixed 1/127 scale, bit-identical scores to [[sqTopK]] on the pairs
    * both consider). The coarse quantizer is [[ivfTopK]]'s: a raw-vector
    * deterministic Lloyd's fit, argmin-L2² corpus assignment, cosine-
    * ranked probe cells — so the q_sq_ivf_ann oracle replays the whole
    * pipeline (fit + cells + codes + integer ranking) in SQL from the raw
    * table, nothing pinned.
    *
    * Scale shape: centroids broadcast (nlist × dim doubles); the corpus
    * is scanned once to (cell, code); candidates arise from a broadcast
    * HASH join on cell (queries × nprobe rows on the build side), each
    * (query, candidate) pair at most once — a corpus vector sits in
    * exactly one cell and probed cells are distinct. Per-partition
    * WindowGroupLimit caps what leaves each scan task at k rows/query.
    */
  def sqIvfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
                vecCol: String, k: Int, dim: Int, nlist: Int = 16,
                nprobe: Int = 4, seed: Long = 42L, iters: Int = 10,
                centroids: Option[Seq[Seq[Double]]] = None): DataFrame = {
    // fit-once/serve-many: pass precomputed centroids to amortize the
    // coarse fit across queries (the serving shape — the fit is the
    // write-time cost, the pruned scan is the per-query cost)
    val cents = centroids.getOrElse(
      pqCodebooks(corpus, vecCol, dim, m = 1, codebookSize = nlist,
        seed = seed, iters = iters, normalizeInput = false).head)
    sqIvfServe(sqIvfEncode(corpus, idCol, vecCol, cents), queries, idCol,
      vecCol, k, cents, nprobe)
  }

  /** The WRITE-time half of the SQ×IVF index: one scan assigning each
    * vector to its nearest cell (fused argmin) and quantizing it to int8
    * codes — `(id, cell, c8)`. Persist/write this once; the per-query
    * cost is then only [[sqIvfServe]]'s pruned scan (the inline
    * assignment is n·nlist·dim multiply-adds, which at corpus scale
    * dwarfs any single batch's scoring — the same fit/serve split as the
    * persisted IVF-PQ index).
    */
  def sqIvfEncode(corpus: DataFrame, idCol: String, vecCol: String,
                  centroids: Seq[Seq[Double]]): DataFrame =
    corpus.select(col(idCol).as("id"), asDouble(col(vecCol)).as("v"))
      .select(col("id"),
        graft.plans.Expressions.nearest_centroid(col("v"), centroids).as("cell"),
        graft.plans.Expressions.sq8_encode(col("v")).as("c8"))

  /** The SERVE-time half: queries probe their `nprobe` nearest cells and
    * integer-dot only those cells' codes — n·nprobe/nlist candidates per
    * query, WindowGroupLimit-bounded output.
    */
  def sqIvfServe(encoded: DataFrame, queries: DataFrame, idCol: String,
                 vecCol: String, k: Int, centroids: Seq[Seq[Double]],
                 nprobe: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("qv"))
      .select(col("query_id"),
        graft.plans.Expressions.sq8_encode(col("qv")).as("q8"),
        explode(graft.plans.Expressions.nearest_centroids(
          col("qv"), centroids, nprobe)).as("cell"))
    val scored = encoded.join(broadcast(q), Seq("cell"))
      .where(col("id") =!= col("query_id"))
      .select(col("query_id"), col("id"),
        graft.plans.Expressions.int8_dot(col("q8"), col("c8")).as("dot"))
      .withColumn("approx_cos", col("dot").cast("double") / lit(127.0 * 127.0))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dot").desc, col("id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN: a k-means coarse quantizer partitions the
    * corpus into `nlist` cells; a query only scans its `nprobe` nearest
    * cells. The standard FAISS-style recall/cost dial, built on the
    * engine's own distributed Lloyd's fit ([[pqCodebooks]] with m = 1 —
    * hash-sorted seeded init, order-fixed partial merge), which is
    * DETERMINISTIC down to the last double and replayable step-for-step
    * by the DuckDB oracle (q_ivf_ann derives the fit, the probe ranking,
    * and the recall entirely in SQL — nothing pinned from the engine).
    * Returns top-k per query vector for queries drawn from the same
    * table.
    *
    * Scale shape: centroids are tiny (nlist × dim, broadcast); the
    * candidate join matches each vector only against its probed cells —
    * cost n·(n/nlist)·nprobe instead of n².
    */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      seed: Long = 42L,
      iters: Int = 10
  ): DataFrame = {
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    // raw-vector fit (no L2 pre-normalization), matching the raw-vector
    // L2² cell assignment below — one consistent quantizer geometry
    val cents = pqCodebooks(df, vecCol, dim, m = 1, codebookSize = nlist,
      seed = seed, iters = iters, normalizeInput = false).head
    val centroids = cents.zipWithIndex
    // cell assignment for corpus vectors: fused codegen argmin over the
    // inlined centroids — the full-corpus scan stays inside whole-stage
    // codegen, no per-row object conversion
    val assigned = v.withColumn("cell",
      graft.plans.Expressions.nearest_centroid(col("v"), centroids.map(_._1).toSeq))
      .select(col(idCol), col("v"), col("cell"))
    // each query probes its nprobe nearest centroids — ranked by the fused
    // NearestCentroids kernel (bit-identical cosine ordering), so the
    // query side keeps its partitioning: no centroid crossJoin row
    // amplification and no Window shuffle just to pick top-nprobe cells
    val probes = assigned.select(col(idCol).as("qid"), col("v").as("qv"))
      .select(col("qid"), col("qv"),
        explode(graft.plans.Expressions.nearest_centroids(
          col("qv"), centroids.map(_._1).toSeq, nprobe)).as("cell"))
    // candidates: query × vectors in probed cells only. Each (query,
    // candidate) pair arises at most once — a corpus vector sits in
    // exactly one cell and NearestCentroids returns nprobe DISTINCT
    // cells — so no distinct() is needed (one was here until round 13:
    // a gratuitous full shuffle of the IVF path's largest intermediate;
    // uniqueness is now pinned in SimilaritySpec instead).
    val sims = probes.join(assigned, Seq("cell"))
      .where(col("qid") =!= col(idCol))
      .select(col("qid").as("id1"), col(idCol).as("id2"),
        Dedup.cosine(col("qv"), col("v")).as("cosine"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** The seeded hyperplane family behind [[hyperplaneSignature]] — public so
    * an external checker (the driver's DuckDB oracle) can reproduce the
    * exact same planes and replay the full LSH pipeline independently.
    */
  def hyperplanes(dim: Int, bits: Int, seed: Long = 42L): Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** Random-hyperplane signatures: bit i = sign(v · h_i) with hyperplanes
    * drawn from a fixed seed. Cosine-similar vectors agree on most bits.
    */
  def hyperplaneSignature(
      vecCol: Column,
      dim: Int,
      bits: Int,
      seed: Long = 42L
  ): Column =
    // native fused kernel: all `bits` sign tests in one loop per row — the
    // per-bit zip_with/aggregate chain was bits × dim interpreted boxed
    // ops on every corpus vector (same class as the L2Normalize fix)
    graft.plans.Expressions.hyperplane_signature(
      vecCol, hyperplanes(dim, bits, seed))

  /** Embedding near-dup PAIRS above a cosine threshold via hyperplane-LSH
    * bucketing — the scale path for [[graft.dedup.Dedup.embeddingDupPairs]]
    * (whose all-pairs form is the O(n²) oracle baseline). Vectors only meet
    * inside a (band, key) bucket; exact cosine is then computed on those
    * candidates and thresholded, so precision is exact and recall is the
    * band-collision probability (1 − (1 − p^bitsPerBand)^bands with
    * p = 1 − θ/π for angle θ) — raise `bands` / lower `bitsPerBand` to push
    * recall toward 1 at the cost of candidate volume.
    */
  def lshCosinePairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bits: Int = 16,
      bands: Int = 8,
      seed: Long = 42L
  ): DataFrame = {
    require(bands >= 1 && bits % bands == 0 && bits / bands >= 1,
      s"bits=$bits must be a positive multiple of bands=$bands: " +
        "bitsPerBand = 0 keys EVERY vector into one bucket per band (the " +
        "silent all-pairs blowup), and a remainder silently ignores the " +
        "top signature bits (recall below the configured operating point)")
    val bitsPerBand = bits / bands
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), dim, bits, seed))
    val banded = v.select(col(idCol), col("v"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("v"), col("bk.band"), col("bk.key"))
    val l = banded.select(col(idCol).as("id1"), col("v").as("v1"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("id2"), col("v").as("v2"), col("band"), col("key"))
    l.join(r, Seq("band", "key")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"), Dedup.cosine(col("v1"), col("v2")).as("cosine"))
      .distinct()
      .where(col("cosine") >= threshold)
  }

  /** [[lshCosinePairs]] at a corpus-size-aware operating point. Expected
    * bucket occupancy is n / 2^bitsPerBand, and per-band candidate volume
    * is Σ occupancy²/2 ≈ n²/2^(bitsPerBand+1) — so a FIXED key width that
    * is fine at 2k vectors is quadratic at 100k (measured: 306 s for the
    * 2-bit default at 100k vectors vs ~15 s here; SCALE.md). This variant
    * counts the corpus once and picks bitsPerBand = ceil(log2(n /
    * targetBucketSize)), clamped so the banded signature still fits one
    * long (bands × bitsPerBand ≤ 63). The recall consequence is the
    * standard LSH dial, now stated instead of implicit: P(band match) =
    * (1 − θ/π)^bitsPerBand, recall = 1 − (1 − p^bitsPerBand)^bands —
    * near-dup pairs (cosine ≥ 0.9, θ ≤ 26°) keep recall ≥ ~0.9 at the
    * 6-band/9-bit point; borderline-similarity mining at scale should
    * raise `bands` (more signatures) rather than widen buckets.
    */
  def lshCosinePairsAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      dim: Int,
      bands: Int = 6,
      targetBucketSize: Int = 1024,
      seed: Long = 42L
  ): DataFrame = {
    require(bands >= 1 && bands <= 31, s"bands out of range: $bands")
    val n = math.max(df.count(), 1L)
    val maxBpb = 63 / bands
    val bpb = math.max(2, math.min(maxBpb,
      math.ceil(math.log(n.toDouble / targetBucketSize) / math.log(2)).toInt))
    lshCosinePairs(df, idCol, vecCol, threshold, dim,
      bits = bands * bpb, bands = bands, seed = seed)
  }

  /** Deterministic spherical k-means centroids over the L2-normalized
    * embeddings — the cluster map behind [[semanticDupPairs]] /
    * [[semanticDedup]] (SemDeDup). Reuses the distributed bit-exact
    * Lloyd's fit ([[pqCodebooks]] with a single full-dim subspace:
    * hash-sorted init, sorted-pid partial merge), so two fits over the
    * same data produce IDENTICAL doubles — which is what lets a driver
    * oracle inline the centroids as literals and replay everything
    * downstream of the fit independently.
    */
  def semanticCentroids(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      nlist: Int,
      seed: Long = 42L,
      iters: Int = 10
  ): Seq[Seq[Double]] =
    pqCodebooks(df, vecCol, dim, m = 1, codebookSize = nlist, seed = seed,
      iters = iters).head

  /** SemDeDup-style semantic near-duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus with spherical k-means, then
    * compare embeddings ONLY within a cluster — exact cosine over the
    * normalized vectors, thresholded. The candidate set is Σ|cell|²/2
    * instead of n²/2: with nlist sized so cells hold ~10³-10⁴ docs
    * (nlist ∝ n at 100 TB), the pair stage is linear-ish in n and the
    * corpus shuffles ONCE on the cell key (self-join reuses the
    * exchange). The designed tradeoff, as in the paper: near-dups that
    * straddle a cluster boundary are not candidates — raise nlist
    * recall-side via [[lshCosinePairs]] when cross-cluster recall
    * matters more than the cluster prior.
    *
    * Pass pre-fit `centroids` (from [[semanticCentroids]]) to skip the
    * fit — the fit-once/compare-many path; they must be fit over the
    * same normalization (L2) this operator applies to the corpus side.
    */
  def semanticDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      threshold: Double,
      seed: Long = 42L,
      iters: Int = 10,
      centroids: Option[Seq[Seq[Double]]] = None
  ): DataFrame = {
    val cents = centroids.getOrElse(semanticCentroids(df, vecCol, dim, nlist, seed, iters))
    val assigned = df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u"))
      .withColumn("cell",
        graft.plans.Expressions.nearest_centroid(col("u"), cents))
    val l = assigned.select(col("cell"), col(idCol).as("id1"), col("u").as("u1"))
    val r = assigned.select(col("cell"), col(idCol).as("id2"), col("u").as("u2"))
    l.join(r, Seq("cell")).where(col("id1") < col("id2"))
      .select(col("cell"), col("id1"), col("id2"),
        graft.plans.Expressions.cosine_similarity(col("u1"), col("u2")).as("cosine"))
      .where(col("cosine") >= threshold)
  }

  /** End-to-end SemDeDup: every row with its cluster and a keep flag —
    * one representative (the lowest id, via connected components over
    * [[semanticDupPairs]]) survives per duplicate group; docs in no
    * pair keep trivially. Components run over the PAIR table (candidate-
    * sized, never corpus-sized); the corpus-side cost is the one
    * cell-key shuffle of the pair stage plus a left join against the
    * (small) loser set.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      nlist: Int,
      threshold: Double,
      seed: Long = 42L,
      iters: Int = 10,
      centroids: Option[Seq[Seq[Double]]] = None
  ): DataFrame = {
    val cents = centroids.getOrElse(semanticCentroids(df, vecCol, dim, nlist, seed, iters))
    val pairs = semanticDupPairs(df, idCol, vecCol, dim, nlist, threshold,
      seed, iters, Some(cents))
    val losers = Dedup.connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol), lit(false).as("keep"))
    df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u"))
      .withColumn("cell",
        graft.plans.Expressions.nearest_centroid(col("u"), cents))
      .join(losers, Seq(idCol), "left")
      .select(col(idCol), col("cell"), coalesce(col("keep"), lit(true)).as("keep"))
  }

  /** [[semanticDedup]] at a corpus-size-aware cell count — the "nlist ∝
    * n" sizing the SemDeDup design calls for, made explicit: one corpus
    * count picks nlist = clamp(n / targetCellSize, 4, 65536), so the
    * in-cell pair volume Σ|cell|²/2 ≈ n · targetCellSize / 2 stays
    * LINEAR in corpus size instead of quadratic under a fixed nlist.
    * targetCellSize is the paper's ~10³-10⁴-docs-per-cluster regime; the
    * k-means fit cost grows with nlist but stays one treeAggregate per
    * iteration regardless ([[semanticCentroids]]).
    */
  def semanticDedupAuto(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      targetCellSize: Int = 4096,
      seed: Long = 42L,
      iters: Int = 10
  ): DataFrame = {
    val n = math.max(df.count(), 1L)
    val nlist = math.max(4L, math.min(65536L, n / targetCellSize + 1L)).toInt
    semanticDedup(df, idCol, vecCol, dim, nlist, threshold, seed, iters)
  }

  /** Exact cosine top-k for an explicit query batch: queries broadcast,
    * ONE corpus scan for the whole batch, no corpus shuffle — the exact
    * baseline every ANN variant here is measured against, and the right
    * brute-force shape at scale (cost = |corpus| · |batch| · dim, but IO
    * = one pass).
    */
  def knnForQueries(
      df: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int
  ): DataFrame = {
    val c = df.select(col(idCol).as("cid"), asDouble(col(vecCol)).as("cv"))
    val q = queries.select(col(idCol).as("qid"), asDouble(col(vecCol)).as("qv"))
    val sims = c.crossJoin(broadcast(q)).where(col("qid") =!= col("cid"))
      .select(col("qid").as("id1"), col("cid").as("id2"),
        Dedup.cosine(col("qv"), col("cv")).as("cosine"))
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Per-subspace k-means codebooks for product quantization: the
    * embedding is split into `m` contiguous subvectors and each subspace
    * gets its own `codebookSize`-centroid quantizer. Returned as plain
    * Scala arrays — small enough (m·k·dim/m doubles) to inline as
    * literals into every executor's codegen, no broadcast needed.
    *
    * The fit is a DISTRIBUTED Lloyd's: every iteration assigns the whole
    * corpus (or a seeded `sampleFraction` of it) and reduces per-subspace
    * (sum, count) state through ONE `treeAggregate` — all m subspaces fit
    * in the same pass, so the job count is `iters`, not `iters × m`, and
    * the aggregated state is tiny (m·k·(dim/m+1) values) no matter the
    * corpus size. Nothing is collected but the k seed vectors and the
    * final centroids, so codebook QUALITY has no corpus-size-bound cap
    * (the previous fit trained on the first 10k driver-collected rows).
    *
    * Determinism: init takes the k vectors with the smallest seeded
    * xxhash64 — a total order on rows, no partition-order sensitivity —
    * and the iteration count is fixed; empty clusters keep their previous
    * centroid. (As with any distributed double summation, the last-ulp
    * bits depend on the input partitioning; for a fixed layout the fit is
    * exactly reproducible.) Vectors are L2-normalized before fitting so
    * inner product ≡ cosine downstream.
    */
  def pqCodebooks(
      df: DataFrame,
      vecCol: String,
      dim: Int,
      m: Int,
      codebookSize: Int,
      seed: Long = 42L,
      iters: Int = 10,
      sampleFraction: Option[Double] = None,
      normalizeInput: Boolean = true
  ): Seq[Seq[Seq[Double]]] = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    // residual codebooks (normalizeInput=false) must fit the residuals
    // as-is: rescaling them would break score ≈ ⟨q,cent⟩ + ⟨q,r̂⟩
    val vecs = df.select(
      (if (normalizeInput) l2normalize(asDouble(col(vecCol)))
       else asDouble(col(vecCol))).as("u"))
    kmeansSubspaces(vecs, dim, m, codebookSize, iters, seed, sampleFraction)
      .map(_.map(_.toSeq).toSeq).toSeq
  }

  /** Distributed Lloyd's over all `m` subspaces at once (see
    * [[pqCodebooks]]). `vecs` must be a single `array<double>` column "u".
    */
  private def kmeansSubspaces(
      vecs: DataFrame, dim: Int, m: Int, k: Int, iters: Int, seed: Long,
      sampleFraction: Option[Double]): Array[Array[Array[Double]]] = {
    val sub = dim / m
    val spark = vecs.sparkSession
    // sorted init: the k rows with the smallest seeded hash — a
    // deterministic global choice (TakeOrderedAndProject, no full sort)
    val seedRows: Array[Array[Double]] = vecs
      .orderBy(xxhash64(col("u"), lit(seed)), col("u"))
      .limit(k).collect().map(_.getSeq[Double](0).toArray)
    require(seedRows.nonEmpty, "pqCodebooks: empty input")
    val cents: Array[Array[Array[Double]]] = Array.tabulate(m, k) { (j, c) =>
      java.util.Arrays.copyOfRange(
        seedRows(c % seedRows.length), j * sub, (j + 1) * sub)
    }
    val base = vecs.rdd.map(_.getSeq[Double](0).toArray)
    val pts = sampleFraction
      .map(f => base.sample(withReplacement = false, f, seed)).getOrElse(base)

    type Partial = (Array[Array[Array[Double]]], Array[Array[Long]])
    def combine(x: Partial, y: Partial): Partial = {
      val (s1, n1) = x; val (s2, n2) = y
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          val a = s1(j)(c); val b = s2(j)(c)
          var t = 0
          while (t < sub) { a(t) += b(t); t += 1 }
          n1(j)(c) += n2(j)(c)
          c += 1
        }
        j += 1
      }
      (s1, n1)
    }

    // the per-partition seqOp, shared VERBATIM by the distributed and the
    // driver-local paths below so both produce bit-identical partials
    def partialFor(iter: Iterator[Array[Double]],
                   cs: Array[Array[Array[Double]]]): Partial = {
      val s = Array.fill(m, k)(new Array[Double](sub))
      val n = Array.fill(m, k)(0L)
      iter.foreach { u =>
        var j = 0
        while (j < m) {
          val off = j * sub
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < k) {
            val cent = cs(j)(c)
            var d = 0.0; var t = 0
            while (t < sub) { val x = u(off + t) - cent(t); d += x * x; t += 1 }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          val tgt = s(j)(best); var t = 0
          while (t < sub) { tgt(t) += u(off + t); t += 1 }
          n(j)(best) += 1L
          j += 1
        }
      }
      (s, n)
    }
    // merge partials DETERMINISTICALLY: sorted-pid order within fixed
    // 64-wide groups, then group order — same tree both paths
    def mergePartials(parts: Array[(Int, Partial)]): Partial =
      parts.map { case (pid, p) => (pid / 64, (pid, p)) }
        .groupBy(_._1).toArray
        .map { case (g, members) =>
          (g, members.map(_._2).sortBy(_._1).map(_._2).reduce(combine)) }
        .sortBy(_._1).map(_._2)
        .reduce(combine)
    def updateCents(sums: Array[Array[Array[Double]]],
                    counts: Array[Array[Long]]): Unit = {
      var j = 0
      while (j < m) {
        var c = 0
        while (c < k) {
          if (counts(j)(c) > 0L) {
            var t = 0
            while (t < sub) { cents(j)(c)(t) = sums(j)(c)(t) / counts(j)(c); t += 1 }
          } // empty cluster keeps its previous centroid
          c += 1
        }
        j += 1
      }
    }

    // DRIVER-LOCAL SMALL-FIT PATH (r18 opt, guide §1.2 "per-task work"):
    // each Lloyd's iteration is one Spark job (broadcast + map + shuffle
    // + collect) whose fixed latency (~40 ms local) dwarfs the arithmetic
    // for small inputs — a 50-vector fit paid ~10 jobs ≈ 0.4 s of pure
    // scheduling. When the (sampled) input's ESTIMATED bytes fit a small
    // bound, collect the vectors ONCE — preserving (partition id, row
    // order) — and run the identical seqOp/merge arithmetic on the
    // driver: bit-identical centroids (same doubles combined in the same
    // order), 2 jobs total instead of iters+1. The estimate is from plan
    // statistics (file size), so a 100 TB corpus keeps the distributed
    // path; the bound is conf-overridable. This is the same bounded-
    // driver-aggregate class as the BPE fit loop — the collected state is
    // capped by the bound, never corpus-proportional.
    val localFitMaxBytes =
      spark.conf.getOption("spark.graft.kmeans.localFitMaxBytes")
        .map(_.toLong).getOrElse(32L << 20)
    val estBytes = vecs.queryExecution.optimizedPlan.stats.sizeInBytes
    // r19 (VERDICT/ADVICE): the stats estimate is a file-size heuristic
    // that can UNDERESTIMATE decoded Array[Array[Double]] rows (derived
    // frames, compressed parquet), so the bound is also enforced on the
    // collected rows themselves. maxRows is the bound in decoded rows
    // (dim doubles + array header); each task ships at most maxRows + 1
    // rows (so an overflowing input is detected without shipping it all —
    // residual worst case is partitions × bound, vs unbounded before),
    // and if the TOTAL exceeds maxRows the collected sample is discarded
    // and the fit falls through to the distributed loop, whose centroids
    // are bit-identical by the shared seqOp/merge tree.
    val maxRows = math.max(1L, localFitMaxBytes / (dim * 8L + 16L))
    val localParts: Option[Array[(Int, Array[Array[Double]])]] =
      if (estBytes > localFitMaxBytes) None
      else {
        val capped: Array[(Int, Array[Array[Double]], Long)] =
          pts.mapPartitionsWithIndex { (pid, iter) =>
            val buf = scala.collection.mutable.ArrayBuffer[Array[Double]]()
            var n = 0L
            iter.foreach { u => n += 1; if (n <= maxRows + 1) buf += u }
            Iterator((pid, buf.toArray, n))
          }.collect()
        if (capped.map(_._3).sum <= maxRows)
          // no partition truncated (each holds ≤ the accepted total), so
          // the rows are complete and in the exact (pid, row) order the
          // unbounded collect produced
          Some(capped.map(c => (c._1, c._2)).sortBy(_._1))
        else None
      }
    if (localParts.isDefined) {
      val parts = localParts.get
      var it = 0
      while (it < iters) {
        val cs = cents.map(_.map(_.clone()))
        val (sums, counts) = mergePartials(
          parts.map { case (pid, rows) => (pid, partialFor(rows.iterator, cs)) })
        updateCents(sums, counts)
        it += 1
      }
      cents
    } else {
      pts.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        var it = 0
        while (it < iters) {
          val bc = spark.sparkContext.broadcast(cents.map(_.map(_.clone())))
          // One pass: per-partition (sum, count) partials, then the same
          // deterministic merge as the local path (treeAggregate's final
          // reduce merges in task-COMPLETION order, which re-orders double
          // addition between runs and costs last-ulp reproducibility —
          // exactly what pinned-recall oracles can't tolerate). The driver
          // receives ceil(P/64) partials of m·k·(dim/m+1) values each.
          val (sums, counts) = pts.mapPartitionsWithIndex { (pid, iter) =>
            val cs = bc.value
            Iterator((pid, partialFor(iter, cs)))
          }
            .map { case (pid, p) => (pid / 64, (pid, p)) }
            .groupByKey()
            .map { case (g, members) =>
              (g, members.toArray.sortBy(_._1).map(_._2).reduce(combine)) }
            .collect().sortBy(_._1).map(_._2)
            .reduce(combine)
          updateCents(sums, counts)
          bc.destroy()
          it += 1
        }
        cents
      } finally pts.unpersist(blocking = false)
    }
  }

  // native fused kernel (graft.plans.Expressions.L2Normalize): the
  // composed transform/aggregate form re-evaluated the norm subtree per
  // element — O(dim²) interpreted ops per row, ~0.5 ms/row at dim 64
  private def l2normalize(vec: Column): Column =
    graft.plans.Expressions.l2_normalize(vec)

  /** PQ encoding: `codes[j] = argmin_c ‖u_j − codebook[j][c]‖²` — the
    * embedding compressed to m small ints (4–8 bits each), a 32–64×
    * reduction of what a similarity scan has to read. A fused native
    * codegen expression ([[graft.plans.Expressions.PqEncode]]): one
    * normalize + argmin loop per row, no intermediate arrays — the
    * composed higher-order-function form is interpreted and ~100× slower.
    */
  def pqEncode(vec: Column, codebooks: Seq[Seq[Seq[Double]]]): Column =
    graft.plans.Expressions.pq_encode(vec, codebooks)

  /** Product-quantization ANN (asymmetric distance computation): the
    * corpus is stored as PQ codes; each query builds one lookup table per
    * subspace (`lut[j][c] = ⟨q_j, codebook[j][c]⟩`) and a candidate's
    * approximate cosine is `Σ_j lut[j][codes[j]]` — m array lookups per
    * pair instead of a dim-wide dot product.
    *
    * PQ is the COMPRESSION layer of ANN, not the pruning layer: every
    * code is still scanned per query, but the scan reads m bytes/vector
    * instead of 4·dim and the score is m adds. Compose with [[ivfTopK]]
    * (probe cells first, ADC inside probed cells) for the classic IVF-PQ
    * at corpus scale. The query side is broadcast — the big side (codes)
    * never shuffles.
    */
  def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      m: Int = 8,
      codebookSize: Int = 16,
      seed: Long = 42L,
      queries: Option[DataFrame] = None,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val books = codebooks.getOrElse(pqCodebooks(df, vecCol, dim, m, codebookSize, seed))
    require(books.size == m && books.head.head.size == dim / m,
      s"codebooks shape ${books.size}×${books.head.size}×${books.head.head.size} " +
        s"does not match m=$m, dim/m=${dim / m}")
    val sub = dim / m
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    val encoded = v.select(col(idCol).as("cid"),
      pqEncode(col("v"), books).as("codes"))
    // fused native kernel (graft.plans.Expressions.PqLuts): the composed
    // m × k aggregate(zip_with(slice…)) tree was ~2,000 expression nodes
    // re-analyzed per call — driver planning cost, not just eval cost
    val luts = graft.plans.Expressions.pq_luts(col("u"), books)
    val qside = queries.getOrElse(df)
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol).as("qid"), l2normalize(col("v")).as("u"))
      .select(col("qid"), luts.as("luts"))
    val scored = encoded.crossJoin(broadcast(qside))
      .where(col("qid") =!= col("cid"))
      .withColumn("score",
        graft.plans.Expressions.pq_adc(col("luts"), col("codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid").as("id1"), col("cid").as("id2"),
        col("score"), col("rank"))
  }

  /** IVF-PQ: the classic composition — the coarse quantizer prunes the
    * candidate set to `nprobe` cells ([[ivfTopK]]'s shape) and PQ codes
    * score the survivors by ADC lookups ([[pqTopK]]'s shape). Per query:
    * `(n/nlist)·nprobe` candidates × m byte lookups — both the IO and
    * the compute dial at once, which is what a billion-vector corpus
    * needs. Codes quantize raw vectors by default — simpler, and the
    * recall dial is `nprobe` and `m` as usual; pass `residual = true`
    * for FAISS-style residual codes ([[ivfPqResidual]]) when the extra
    * per-cell precision is worth a second pass over the corpus at build
    * time (assign, then encode the residual).
    *
    * Caller-supplied `codebooks` must match the path they are used on:
    * with `residual = true` they must have been fitted on RESIDUALS
    * (`u − centroid(cell)`, e.g. by a prior residual run's
    * [[pqCodebooks]] over the residual column). Raw-path books have the
    * same m×k×sub shape, so passing them cannot be detected here — they
    * would encode residuals against raw-space centroids and silently
    * degrade recall.
    */
  def ivfPqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      codebookSize: Int = 16,
      seed: Long = 42L,
      queries: Option[DataFrame] = None,
      codebooks: Option[Seq[Seq[Seq[Double]]]] = None,
      coarseSampleFraction: Option[Double] = None,
      residual: Boolean = false
  ): DataFrame = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val sub = dim / m
    if (residual)
      return ivfPqResidual(df, idCol, vecCol, k, dim, nlist, nprobe, m,
        codebookSize, seed, queries, codebooks, coarseSampleFraction)
    val books = codebooks.getOrElse(pqCodebooks(df, vecCol, dim, m, codebookSize, seed))
    require(books.size == m && books.head.head.size == sub,
      s"codebooks shape ${books.size}×${books.head.size}×${books.head.head.size} " +
        s"does not match m=$m, dim/m=$sub")
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
    // coarse quantizer trained distributed over the full corpus (matching
    // [[ivfTopK]]) or a seeded fraction of it — the engine's own
    // deterministic Lloyd's fit (one aggregation pass per iteration, no
    // row ever collected beyond the nlist seeds), so the entire IVF-PQ
    // pipeline is replayable by the SQL oracle
    val fitInput = coarseSampleFraction
      .map(f => v.sample(withReplacement = false, f, seed)).getOrElse(v)
    val cents = pqCodebooks(fitInput, "v", dim, m = 1, codebookSize = nlist,
      seed = seed, normalizeInput = false).head
    // corpus side: one cell id + m-byte code vector per row — the only
    // thing the candidate scan ever reads; assignment is the fused
    // codegen argmin
    val assigned = v.select(col(idCol).as("cid"),
      pqEncode(col("v"), books).as("codes"),
      graft.plans.Expressions.nearest_centroid(col("v"), cents).as("cell"))
    scoreAssignedCells(assigned, cents, books, residual = false,
      queries.getOrElse(df), idCol, vecCol, k, nprobe, m, sub)
  }

  /** The SERVE half of IVF-PQ, shared by the direct paths and the
    * persisted-index path ([[ivfPqServe]]): given the corpus reduced to
    * `(cid, codes, cell)` and the small driver-side model (centroids +
    * codebooks), rank each query's candidates. Per query: fused
    * top-nprobe cell ranking (no centroid crossJoin, no Window), LUTs
    * built once per query row before the cell explode, candidates from
    * the cell equi-join, ADC scoring (+ the ⟨q, centroid⟩ term on the
    * residual path — a RAW dot against the probed cell's mean, cosine
    * would rescale it), top-k window.
    */
  private def scoreAssignedCells(
      assigned: DataFrame,
      cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      residual: Boolean,
      queryDf: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int,
      m: Int,
      sub: Int
  ): DataFrame = {
    // fused native LUT kernel — see pqTopK; bit-identical left-to-right
    // per-subspace sums, so the stored-index serve path and its derived
    // oracle replays are unchanged
    val luts = graft.plans.Expressions.pq_luts(col("u"), books)
    val probesBase = queryDf
      .select(col(idCol), asDouble(col(vecCol)).as("v"))
      .select(col(idCol).as("qid"), l2normalize(col("v")).as("u"))
    val probes =
      if (!residual)
        probesBase.select(col("qid"), luts.as("luts"),
          explode(graft.plans.Expressions.nearest_centroids(
            col("u"), cents, nprobe)).as("cell"))
      else {
        val centsLit = typedLit(cents)
        probesBase.select(col("qid"), col("u"), luts.as("luts"),
          explode(graft.plans.Expressions.nearest_centroids(
            col("u"), cents, nprobe)).as("cell"))
          .withColumn("qc",
            aggregate(zip_with(col("u"), element_at(centsLit, col("cell") + 1),
              (x, y) => x * y), lit(0.0), _ + _))
          .select(col("qid"), col("luts"), col("qc"), col("cell"))
      }
    // each corpus vector lives in exactly one cell — no pair duplication
    val scored = probes.join(assigned, Seq("cell"))
      .where(col("qid") =!= col("cid"))
      .withColumn("score",
        if (residual)
          col("qc") + graft.plans.Expressions.pq_adc(col("luts"), col("codes"))
        else graft.plans.Expressions.pq_adc(col("luts"), col("codes")))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("cid"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
      .select(col("qid").as("id1"), col("cid").as("id2"),
        col("score"), col("rank"))
  }

  /** FAISS-style RESIDUAL IVF-PQ (`ivfPqTopK(residual = true)`): codes
    * quantize `r = u − centroid(cell)` instead of the raw vector, so the
    * codebooks only have to cover the within-cell spread — the classic
    * precision win over raw-vector codes. Scoring uses
    * `⟨q,u⟩ ≈ ⟨q,cent⟩ + ⟨q,r̂⟩`: the first term is one dot per probed
    * (query, cell) — computed in the probe join, which already pairs them —
    * and the second is the SAME per-query subspace LUTs as the raw path
    * (`lut[j][c] = ⟨q_j, book_j[c]⟩` is centroid-independent because r̂
    * decomposes per subspace), so the per-candidate cost is still m lookups
    * + m adds, plus one add for the centroid term. Everything runs on
    * L2-normalized vectors end-to-end; residuals are NOT re-normalized
    * (that would break the decomposition).
    */
  private def ivfPqResidual(
      df: DataFrame, idCol: String, vecCol: String, k: Int, dim: Int,
      nlist: Int, nprobe: Int, m: Int, codebookSize: Int, seed: Long,
      queries: Option[DataFrame], codebooks: Option[Seq[Seq[Seq[Double]]]],
      coarseSampleFraction: Option[Double]): DataFrame = {
    val sub = dim / m
    val un = df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u0"))
    val fitInput = coarseSampleFraction
      .map(f => un.sample(withReplacement = false, f, seed)).getOrElse(un)
    val cents = pqCodebooks(fitInput, "u0", dim, m = 1, codebookSize = nlist,
      seed = seed, normalizeInput = false).head
    val centsLit = typedLit(cents)
    val resid = un
      .withColumn("cell", graft.plans.Expressions.nearest_centroid(col("u0"), cents))
      .withColumn("res",
        zip_with(col("u0"), element_at(centsLit, col("cell") + 1), (a, b) => a - b))
    val books = codebooks.getOrElse(pqCodebooks(resid, "res", dim, m,
      codebookSize, seed, normalizeInput = false))
    require(books.size == m && books.head.head.size == sub,
      s"codebooks shape ${books.size}×${books.head.size}×${books.head.head.size} " +
        s"does not match m=$m, dim/m=$sub")
    val assigned = resid.select(col(idCol).as("cid"),
      graft.plans.Expressions.pq_encode(col("res"), books, normalize = false).as("codes"),
      col("cell"))
    scoreAssignedCells(assigned, cents, books, residual = true,
      queries.getOrElse(df), idCol, vecCol, k, nprobe, m, sub)
  }

  // ---- Persisted indexes: fit once, serve many. At 100 TB the expensive
  // steps are the model fit and the full-corpus encode; a store that keeps
  // their output — a small driver-side model plus a `cell`-partitioned
  // codes table — lets every later query batch skip straight to the
  // candidate join, and a serve that probes nprobe cells reads only those
  // directories (dynamic partition pruning through the broadcast probe
  // join). The corpus vectors are never stored or read again. Both codecs
  // below run one lifecycle, [[CodesStore]] (append, stream append,
  // delete, compact, fold, refit, open); each codec supplies only its id
  // column, model tables, encode and refit signal.

  private def centroidTable(spark: SparkSession,
                            cents: Seq[Seq[Double]]): DataFrame = {
    import spark.implicits._
    cents.zipWithIndex.map { case (c, i) => (i, c) }.toDF("cell", "vec")
  }

  private def readCentroids(spark: SparkSession, dir: String): Seq[Seq[Double]] =
    spark.read.parquet(s"$dir/centroids").orderBy("cell").collect()
      .map(r => r.getSeq[Double](r.fieldIndex("vec"))).toSeq

  /** An opened on-disk IVF-PQ index: the small model (centroids m×dim +
    * codebooks m×k×sub, a few KB — driver-held by design, like the
    * literal centroids the direct path inlines) and the lazy live codes
    * table `(cid, codes, cell)`.
    */
  case class IvfPqIndex(
      cents: Seq[Seq[Double]],
      books: Seq[Seq[Seq[Double]]],
      dim: Int,
      m: Int,
      residual: Boolean,
      codes: DataFrame)

  /** The IVF-PQ store: `cid` ids; model tables `meta`, `centroids`,
    * `codebooks` and the fit-time `cellstats`; refit when some cell's
    * live occupancy drifted by `threshold` from the fit's
    * ([[ivfPqCellDrift]]).
    */
  private[graft] val ivfPqStore = new CodesStore(new CodesCodec[IvfPqIndex] {
    val name = "IvfPq"
    val label = "ivfpq"
    val idCol = "cid"
    val modelTables = Seq("meta", "centroids", "codebooks", "cellstats")
    def load(spark: SparkSession, dir: String): DataFrame => IvfPqIndex = {
      val meta = spark.read.parquet(s"$dir/meta").head()
      val m = meta.getAs[Int]("m")
      val booksFlat = spark.read.parquet(s"$dir/codebooks")
        .orderBy("j", "c").collect()
        .map(r => (r.getAs[Int]("j"), r.getSeq[Double](r.fieldIndex("vec"))))
      val books = (0 until m).map(j => booksFlat.filter(_._1 == j).map(_._2).toSeq)
      val cents = readCentroids(spark, dir)
      codes => IvfPqIndex(cents, books, meta.getAs[Int]("dim"), m,
        meta.getAs[Boolean]("residual"), codes)
    }
    def encode(index: IvfPqIndex, df: DataFrame, idCol: String,
               vecCol: String): DataFrame =
      encodeForIndex(index, df, idCol, vecCol)
    def staleness(spark: SparkSession, path: String): Double =
      ivfPqCellDrift(spark, path).agg(max(abs(col("growth")))).head().getDouble(0)
    def refit(df: DataFrame, idCol: String, vecCol: String, path: String,
              meta: Row, streamHighwater: Option[Long]): Unit =
      writeIvfPqIndex(df, idCol, vecCol, path,
        dim = meta.getAs[Int]("dim"),
        nlist = meta.getAs[Int]("nlist"),
        m = meta.getAs[Int]("m"),
        codebookSize = meta.getAs[Int]("codebook_size"),
        seed = meta.getAs[Long]("seed"),
        residual = meta.getAs[Boolean]("residual"),
        streamHighwater = streamHighwater)
  })

  /** Fit an IVF-PQ index on `df` and persist it under `path` as one
    * crash-atomically committed generation ([[CodesStore.publish]]):
    * `meta` (one row of params), `centroids` (nlist rows), `codebooks`
    * (m·k rows), `codes` — one `(cid, codes)` row per corpus vector,
    * partitioned by `cell` — and `cellstats`, the fit-time cell
    * occupancy. The fit is exactly [[ivfPqTopK]]'s (same seeded
    * deterministic coarse Lloyd's on the same input column, same
    * [[pqCodebooks]] distributed fit, same fused assignment expressions),
    * so serving from the store reproduces the direct path bit-for-bit.
    * `streamHighwater` is the last micro-batch a stream-triggered refit
    * folds in.
    */
  def writeIvfPqIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int,
      nlist: Int = 16,
      m: Int = 8,
      codebookSize: Int = 16,
      seed: Long = 42L,
      residual: Boolean = false,
      coarseSampleFraction: Option[Double] = None,
      streamHighwater: Option[Long] = None
  ): Unit = {
    require(dim % m == 0, s"dim $dim not divisible by m $m")
    val spark = df.sparkSession
    import spark.implicits._
    val (cents, books) =
      if (!residual) {
        val books = pqCodebooks(df, vecCol, dim, m, codebookSize, seed)
        val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
        val cents = pqCodebooks(
          coarseSampleFraction
            .map(f => v.sample(withReplacement = false, f, seed)).getOrElse(v),
          "v", dim, m = 1, codebookSize = nlist, seed = seed,
          normalizeInput = false).head
        (cents, books)
      } else {
        val un = df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u0"))
        val cents = pqCodebooks(
          coarseSampleFraction
            .map(f => un.sample(withReplacement = false, f, seed)).getOrElse(un),
          "u0", dim, m = 1, codebookSize = nlist, seed = seed,
          normalizeInput = false).head
        val resid = un
          .withColumn("cell",
            graft.plans.Expressions.nearest_centroid(col("u0"), cents))
          .withColumn("res", zip_with(col("u0"),
            element_at(typedLit(cents), col("cell") + 1), (a, b) => a - b))
        val books = pqCodebooks(resid, "res", dim, m, codebookSize, seed,
          normalizeInput = false)
        (cents, books)
      }
    ivfPqStore.publish(spark, path, streamHighwater)(
      ("meta", _ => Seq((dim, m, codebookSize, nlist, residual, seed))
        .toDF("dim", "m", "codebook_size", "nlist", "residual", "seed")),
      ("centroids", _ => centroidTable(spark, cents)),
      ("codebooks", _ => books.zipWithIndex.flatMap { case (bj, j) =>
        bj.zipWithIndex.map { case (cv, c) => (j, c, cv) }
      }.toDF("j", "c", "vec")),
      // the SAME encode the grow path uses ([[encodeWith]]), so fit and
      // append can never drift apart
      ("codes", _ => encodeWith(df, idCol, vecCol, cents, books, residual)),
      // the drift baseline ([[ivfPqCellDrift]]), read back from the stored
      // codes so it reflects exactly what the index holds
      ("cellstats", gdir => spark.read.parquet(s"$gdir/codes")
        .groupBy(col("cell")).agg(count(lit(1)).as("n_fit"))))
  }

  /** Encode vectors with an OPENED index's stored model — the exact
    * assignment expressions of the fit path ([[writeIvfPqIndex]]), no
    * refit: coarse cell from the stored centroids, PQ codes from the
    * stored codebooks (residual-aware). The scan-local encode step of
    * fit-once/grow-many.
    */
  def encodeForIndex(index: IvfPqIndex, df: DataFrame,
                     idCol: String, vecCol: String): DataFrame =
    encodeWith(df, idCol, vecCol, index.cents, index.books, index.residual)

  /** The ONE (cell, codes) construction both the fit ([[writeIvfPqIndex]])
    * and the grow path ([[encodeForIndex]]) use — single-sourced so the
    * two can never drift apart.
    */
  private def encodeWith(df: DataFrame, idCol: String, vecCol: String,
                         cents: Seq[Seq[Double]],
                         books: Seq[Seq[Seq[Double]]],
                         residual: Boolean): DataFrame =
    if (!residual) {
      df.select(col(idCol), asDouble(col(vecCol)).as("v"))
        .select(col(idCol).as("cid"),
          pqEncode(col("v"), books).as("codes"),
          graft.plans.Expressions.nearest_centroid(col("v"), cents).as("cell"))
    } else {
      df.select(col(idCol), l2normalize(asDouble(col(vecCol))).as("u0"))
        .withColumn("cell",
          graft.plans.Expressions.nearest_centroid(col("u0"), cents))
        .withColumn("res", zip_with(col("u0"),
          element_at(typedLit(cents), col("cell") + 1), (a, b) => a - b))
        .select(col(idCol).as("cid"),
          graft.plans.Expressions.pq_encode(col("res"), books,
            normalize = false).as("codes"),
          col("cell"))
    }

  /** Append vectors encoded with the STORED model ([[CodesStore.append]]).
    * The fit-time `cellstats` stays as it was: the growing gap between it
    * and the live occupancy IS the refit signal ([[ivfPqCellDrift]]).
    */
  def appendToIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit =
    ivfPqStore.append(df, idCol, vecCol, path)

  /** Tombstone ids; serving masks them at once ([[CodesStore.delete]]). */
  def deleteFromIvfPqIndex(ids: DataFrame, idCol: String, path: String): Unit =
    ivfPqStore.delete(ids, idCol, path)

  /** Replay-idempotent stream append of one micro-batch; true when the
    * batch was dropped by the highwater gap guard
    * ([[CodesStore.appendStream]]).
    */
  def appendStreamBatch(df: DataFrame, idCol: String, vecCol: String,
                        path: String, batchId: Long): Boolean =
    ivfPqStore.appendStream(df, idCol, vecCol, path, batchId)

  /** The dropped-batch ledger of a stream-maintained store, either codec
    * ([[CodesStore.skippedBatches]]). A stream owner asserts it is empty.
    */
  def skippedStreamBatches(spark: SparkSession, path: String): DataFrame =
    CodesStore.skippedBatches(spark, path)

  /** Reclaim tombstoned rows in place ([[CodesStore.compact]]). */
  def compactIvfPqIndex(spark: SparkSession, path: String): Unit =
    ivfPqStore.compact(spark, path)

  /** Fold the stream extension into base codes in a fresh generation;
    * `cellstats` is copied, so the drift baseline stays the fit's
    * ([[CodesStore.fold]]).
    */
  def compactIvfPqStreamExtension(spark: SparkSession, path: String): Boolean =
    ivfPqStore.fold(spark, path)

  /** Staleness signal: per-cell LIVE occupancy (appends minus tombstoned
    * deletes) vs the fit-time snapshot, plus the growth ratio. A cell
    * whose `growth` is large holds many vectors the coarse quantizer
    * never saw at fit time; a strongly negative `growth` means the cell
    * has drained — both directions distort the fit-time balance, so
    * refit when |growth| passes the deployment's tolerance. Full outer:
    * a cell that only gained vectors after fit shows `n_fit` 0.
    */
  def ivfPqCellDrift(spark: SparkSession, path: String): DataFrame = {
    val dir = AtomicStore.resolve(spark, path)
    val fit = spark.read.parquet(s"$dir/cellstats")
    val now = ivfPqStore.live(spark, dir)
      .groupBy(col("cell")).agg(count(lit(1)).as("n_now"))
    fit.join(now, Seq("cell"), "full")
      .select(col("cell"),
        coalesce(col("n_fit"), lit(0L)).as("n_fit"),
        coalesce(col("n_now"), lit(0L)).as("n_now"))
      .withColumn("growth",
        (col("n_now") - col("n_fit")) / greatest(col("n_fit"), lit(1L)))
  }

  /** Drift-triggered refit from the current corpus `df` once some cell's
    * |growth| ([[ivfPqCellDrift]]) reaches `threshold`, with the persisted
    * meta params ([[CodesStore.refit]]). Returns whether it refit.
    */
  def refitIvfPqIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, threshold: Double = 0.5,
                      streamHighwater: Option[Long] = None): Boolean =
    ivfPqStore.refit(df, idCol, vecCol, path, threshold, streamHighwater)

  /** Open a persisted index: the model is cached per JVM and generation;
    * the codes are the lazy, cell-pruned live view ([[CodesStore.open]]).
    */
  def openIvfPqIndex(spark: SparkSession, path: String): IvfPqIndex =
    ivfPqStore.open(spark, path)

  /** Answer a query batch from a persisted index — no codebook fit, no
    * corpus re-encode, no corpus vector reads: the plan is the probe-side
    * kernel + a cell equi-join against the stored codes (whose partition
    * layout prunes to the probed cells) + ADC ranking. Bit-identical
    * results to the direct [[ivfPqTopK]] with the same parameters.
    */
  def ivfPqServe(
      index: IvfPqIndex,
      queryDf: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nprobe: Int = 4
  ): DataFrame =
    scoreAssignedCells(index.codes, index.cents, index.books, index.residual,
      queryDf, idCol, vecCol, k, nprobe, index.m, index.dim / index.m)

  /** An opened on-disk SQ×IVF index: the coarse centroids (nlist × dim
    * doubles, driver-held like the literals the direct path inlines) and
    * the lazy live codes table `(id, cell, c8)`. SQ needs no codebooks:
    * its scale is the fixed constant 1/127.
    */
  case class SqIvfIndex(cents: Seq[Seq[Double]], dim: Int, codes: DataFrame)

  /** The SQ×IVF store: `id` ids; model tables `meta` and `centroids`;
    * refit on the stream extension's share ([[sqIvfStreamGrowth]]).
    */
  private[graft] val sqIvfStore = new CodesStore(new CodesCodec[SqIvfIndex] {
    val name = "SqIvf"
    val label = "sqivf"
    val idCol = "id"
    val modelTables = Seq("meta", "centroids")
    def load(spark: SparkSession, dir: String): DataFrame => SqIvfIndex = {
      val cents = readCentroids(spark, dir)
      val dim = spark.read.parquet(s"$dir/meta").head().getAs[Int]("dim")
      codes => SqIvfIndex(cents, dim, codes)
    }
    def encode(index: SqIvfIndex, df: DataFrame, idCol: String,
               vecCol: String): DataFrame =
      sqIvfEncode(df, idCol, vecCol, index.cents)
    def staleness(spark: SparkSession, path: String): Double =
      sqIvfStreamGrowth(spark, path)
    def refit(df: DataFrame, idCol: String, vecCol: String, path: String,
              meta: Row, streamHighwater: Option[Long]): Unit =
      writeSqIvfIndex(df, idCol, vecCol, path,
        dim = meta.getAs[Int]("dim"),
        nlist = meta.getAs[Int]("nlist"),
        seed = meta.getAs[Long]("seed"),
        iters = meta.getAs[Int]("iters"),
        streamHighwater = streamHighwater)
  })

  /** Fit an SQ×IVF index on `df` and persist it under `path`: `meta`
    * (one row of params), `centroids` (nlist rows) and `codes` — one
    * `(id, c8)` row per corpus vector, partitioned by `cell`. The fit
    * and encode are exactly [[sqIvfTopK]]'s (same deterministic coarse
    * Lloyd's, same [[sqIvfEncode]] expressions), so serving from the
    * store is bit-identical to the direct composition — the integer
    * scores make that testable value-for-value.
    */
  def writeSqIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, dim: Int, nlist: Int = 16,
                      seed: Long = 42L, iters: Int = 10,
                      streamHighwater: Option[Long] = None): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val cents = pqCodebooks(df, vecCol, dim, m = 1, codebookSize = nlist,
      seed = seed, iters = iters, normalizeInput = false).head
    sqIvfStore.publish(spark, path, streamHighwater)(
      ("meta", _ => Seq((dim, nlist, seed, iters))
        .toDF("dim", "nlist", "seed", "iters")),
      ("centroids", _ => centroidTable(spark, cents)),
      ("codes", _ => sqIvfEncode(df, idCol, vecCol, cents)))
  }

  /** [[appendToIvfPqIndex]] on the int8 store ([[CodesStore.append]]). */
  def appendToSqIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                         path: String): Unit =
    sqIvfStore.append(df, idCol, vecCol, path)

  /** [[deleteFromIvfPqIndex]] on the int8 store ([[CodesStore.delete]]). */
  def deleteFromSqIvfIndex(ids: DataFrame, idCol: String, path: String): Unit =
    sqIvfStore.delete(ids, idCol, path)

  /** [[compactIvfPqIndex]] on the int8 store ([[CodesStore.compact]]). */
  def compactSqIvfIndex(spark: SparkSession, path: String): Unit =
    sqIvfStore.compact(spark, path)

  /** [[appendStreamBatch]] on the int8 store ([[CodesStore.appendStream]]). */
  def appendSqIvfStreamBatch(df: DataFrame, idCol: String, vecCol: String,
                             path: String, batchId: Long): Boolean =
    sqIvfStore.appendStream(df, idCol, vecCol, path, batchId)

  /** Fragmentation signal of a stream-maintained store, either codec: the
    * number of first-level `batch_id=…` partition directories in the
    * `codes_stream` extension (one survives per unfolded micro-batch; the
    * per-cell fan-out below them scales with it). The metadata-bound
    * regime SCALE.md measures sets in as this grows, so the stream
    * drivers' DEFAULT-ON fold triggers on it — unlike a batch counter, it
    * self-corrects when a refit resets the layout. One `listStatus` of
    * the extension root.
    */
  def streamExtensionDirCount(spark: SparkSession, path: String): Int =
    CodesStore.extensionDirCount(spark, path)

  /** Staleness signal of the SQ×IVF store: the stream extension's share
    * of the index (`streamed / fitted` row counts, 0 with no extension).
    * The SQ fit has no per-cell codebooks to drift, but streamed vectors
    * are still binned by centroids fit on the OLD distribution — past a
    * deployment's tolerance the coarse balance degrades and a refit
    * re-fits the cells over the full current corpus. Cost: two `count()`
    * jobs, one per table; parquet answers a column-less count from its
    * footers, so neither reads the codes.
    */
  def sqIvfStreamGrowth(spark: SparkSession, path: String): Double =
    CodesStore.streamShare(spark, path)

  /** Growth-triggered refit from the current corpus `df` once
    * [[sqIvfStreamGrowth]] reaches `threshold` ([[CodesStore.refit]]).
    */
  def refitSqIvfIndex(df: DataFrame, idCol: String, vecCol: String,
                      path: String, threshold: Double = 0.5,
                      streamHighwater: Option[Long] = None): Boolean =
    sqIvfStore.refit(df, idCol, vecCol, path, threshold, streamHighwater)

  /** [[openIvfPqIndex]] on the int8 store ([[CodesStore.open]]). */
  def openSqIvfIndex(spark: SparkSession, path: String): SqIvfIndex =
    sqIvfStore.open(spark, path)

  /** [[compactIvfPqStreamExtension]] on the int8 store ([[CodesStore.fold]]). */
  def compactSqIvfStreamExtension(spark: SparkSession, path: String): Boolean =
    sqIvfStore.fold(spark, path)

  /** Answer a query batch from a persisted SQ×IVF index — no coarse
    * fit, no corpus re-encode: probe-side kernel + cell equi-join
    * against the stored codes + integer-dot ranking. Bit-identical to
    * the direct [[sqIvfTopK]] with the same parameters.
    */
  def sqIvfServeIndex(index: SqIvfIndex, queries: DataFrame, idCol: String,
                      vecCol: String, k: Int, nprobe: Int = 4): DataFrame =
    sqIvfServe(index.codes, queries, idCol, vecCol, k, index.cents, nprobe)

  /** ANN top-k via LSH: bucket on signature bands, rank within buckets.
    * Recall < 1 by construction; `bands` trades recall vs. bucket size.
    */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      dim: Int,
      bits: Int = 16,
      bands: Int = 4,
      seed: Long = 42L
  ): DataFrame = {
    require(bands >= 1 && bits % bands == 0 && bits / bands >= 1,
      s"bits=$bits must be a positive multiple of bands=$bands: " +
        "bitsPerBand = 0 keys EVERY vector into one bucket per band (the " +
        "silent all-pairs blowup), and a remainder silently ignores the " +
        "top signature bits (recall below the configured operating point)")
    val bitsPerBand = bits / bands
    val v = df.select(col(idCol), asDouble(col(vecCol)).as("v"))
      .withColumn("sig", hyperplaneSignature(col("v"), dim, bits, seed))
    val banded = v.select(col(idCol), col("v"),
      explode(array((0 until bands).map(b => struct(lit(b).as("band"),
        shiftright(col("sig"), b * bitsPerBand)
          .bitwiseAND(lit((1L << bitsPerBand) - 1)).as("key"))): _*)).as("bk"))
      .select(col(idCol), col("v"), col("bk.band"), col("bk.key"))
    val l = banded.select(col(idCol).as("id1"), col("v").as("v1"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("id2"), col("v").as("v2"), col("band"), col("key"))
    val sims = l.join(r, Seq("band", "key")).where(col("id1") =!= col("id2"))
      .select(col("id1"), col("id2"), Dedup.cosine(col("v1"), col("v2")).as("cosine"))
      .distinct()
    val w = Window.partitionBy(col("id1")).orderBy(col("cosine").desc, col("id2"))
    sims.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }
}
