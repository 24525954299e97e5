package graft.dedup

import graft.text.TextMetrics
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication suite for document corpora (builder north-star scope):
  * exact, n-gram Jaccard, MinHash+LSH, SimHash, embedding-cosine.
  *
  * Scale design: every variant is shuffle-bounded by the *candidate* pair
  * set, never the full cross product —
  *  - exact: one hash-groupBy;
  *  - n-gram Jaccard: inverted-index self-join on shared grams (only
  *    co-occurring docs meet);
  *  - MinHash LSH: band-bucket join (candidates only), then exact verify;
  *  - SimHash: 16-bit band buckets for hamming ≤ k;
  *  - embedding: LSH-bucketed variant in [[graft.sim.Similarity]]; the
  *    all-pairs form here is the small-side/oracle baseline.
  */
object Dedup {

  /** Default document-frequency cap for posting lists in
    * [[ngramJaccardPairs]]. A shingle shared by more than this many
    * documents is a stop-gram: it contributes O(df²) candidate pairs on a
    * single reducer while carrying near-zero signal for NEAR-dup semantics
    * (overlap concentrated in ubiquitous grams is not duplication). 128
    * bounds any one gram's pair fan-out at ~8k pairs — safe on one reducer
    * at any corpus size — while sitting far above the df of genuinely
    * discriminative shingles.
    */
  val DefaultMaxDocFreq: Int = 128

  /** Exact duplicate groups keyed by md5 of (optionally normalized) text.
    * Output: one row per duplicate group with size and representative
    * (min id) — the keep-one policy of content dedup.
    */
  def exactGroups(
      df: DataFrame,
      idCol: String,
      textCol: String,
      normalizeFirst: Boolean = true
  ): DataFrame = {
    val key = if (normalizeFirst) TextMetrics.normalize(col(textCol)) else col(textCol)
    df.groupBy(md5(key).as("text_hash"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .where(col("n_docs") > 1)
  }

  /** Distinct word n-grams per document — the shared shingle extractor.
    * Output: (id, gram).
    */
  def ngrams(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val toks = TextMetrics.tokens(TextMetrics.normalize(col(textCol)))
    df.select(col(idCol), toks.as("toks"))
      .where(size(col("toks")) >= n)
      .select(col(idCol), explode(array_distinct(
        transform(sequence(lit(0), size(col("toks")) - n),
          i => concat_ws(" ", slice(col("toks"), i + 1, lit(n)))))).as("gram"))
  }

  /** Exact n-gram Jaccard near-dup pairs via inverted-index self-join:
    * docs sharing at least one gram meet, Jaccard = |∩| / (|A|+|B|−|∩|).
    * Only pairs above `threshold` survive. This is also the oracle for the
    * approximate variants.
    *
    * `maxDocFreq` defaults to [[DefaultMaxDocFreq]] — FINITE on purpose: a
    * gram shared by k documents contributes k² candidate pairs on one
    * reducer, so an uncapped run over a real corpus builds a quadratic
    * stop-gram straggler. Callers who truly want the uncapped all-pairs
    * semantics (oracle baselines) must say `maxDocFreq = Int.MaxValue`
    * explicitly.
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5,
      maxDocFreq: Int = DefaultMaxDocFreq
  ): DataFrame = {
    // Posting-list pair generation: the per-doc gram-set aggregation ALSO
    // yields the set size, which rides along inside the posting lists —
    // one linear chain (gram sets → postings → pairs), so the tokenize/
    // explode subplan is computed once and no decorate joins are needed
    // (r1 recomputed it twice + broadcast-joined sizes back: slowest bench
    // query). Gram keys are 64-bit hashes, not strings (~3x smaller
    // shuffle; cross-gram collision probability ~2^-64 — immaterial).
    //
    // Skew guard: pair cost is Σ|postings|², so one stop-gram shared by k
    // docs builds a k² pair list on a single reducer. `maxDocFreq` drops
    // posting lists longer than that before the explode — at 100 TB this
    // is the difference between a bounded candidate set and a quadratic
    // straggler. Jaccard for surviving pairs is exact iff they share no
    // capped gram (denominators stay full-set); a capped gram can only
    // LOWER a pair's score — recall loss is confined to pairs whose
    // overlap is mostly stop-grams, which near-dup semantics don't want
    // anyway. The driver oracle mirrors the cap in SQL.
    // (id, set-size) ride the postings as ONE packed long — id in the high
    // 41 bits, size in the low 22 — so the pair aggregate groups on two
    // longs instead of four columns (~15% off the whole query, measured at
    // sf0.1) and the packed ordering still equals the id ordering (a doc
    // appears at most once per posting, so the size bits never decide).
    // Unpacking uses shift/mask, not division — exact at all magnitudes.
    // Bounds (id < 2^41, non-negative, non-null, < 4.2M grams/doc) are
    // guarded with an explicit error: a corpus keyed by 64-bit hash ids
    // must re-key (e.g. dense ids via monotonically_increasing_id) rather
    // than get silently-wrong pairs. The isNull arm matters: with ANSI off,
    // cast("long") of a non-numeric id yields null, and null < 0 is null —
    // a guard without it would skip the raise_error, idsz would be null,
    // and every such doc would silently vanish from the pair output.
    val id = col(idCol).cast("long")
    // NOT fanned out (r18 opt, measured 1.47× SLOWER fanned): shuffling
    // the raw text to parallelize the fused tokenize costs more than the
    // serial tokenize itself — unlike minhashDedup, nothing here is
    // cached, so the exchange is paid per call.
    val sets = gramHashSets(df, idCol, textCol, n)
      .select(
        when(id.isNull || id < 0 || id >= (1L << 41) || size(col("gs")) >= (1 << 22),
          raise_error(concat(
            lit(s"ngramJaccardPairs: cannot pack ($idCol="),
            coalesce(id.cast("string"), lit("NULL (id not castable to long)")),
            lit(", grams="), size(col("gs")),
            lit(s"); requires 0 <= $idCol < 2^41 and < 2^22 grams/doc — re-key ids")))
            .cast("long"))
          .otherwise(shiftleft(id, 22) + size(col("gs"))).as("idsz"),
        col("gs"))
    val posts = sets
      .select(col("idsz"), explode(col("gs")).as("gh"))
      .groupBy(col("gh"))
      .agg(collect_list(col("idsz")).as("ids"))
      // singleton postings (the vast majority of grams) generate no pairs —
      // drop them before the explode; upper bound is the skew guard
      .where(size(col("ids")).between(2, maxDocFreq))
    posts.select(explode(col("ids")).as("a"), col("ids"))
      .select(col("a"), explode(col("ids")).as("b"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .select(
        shiftright(col("a"), 22).as("id1"),
        col("a").bitwiseAND(lit((1L << 22) - 1)).as("sz1"),
        shiftright(col("b"), 22).as("id2"),
        col("b").bitwiseAND(lit((1L << 22) - 1)).as("sz2"),
        col("inter"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz1") + col("sz2") - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Per-doc distinct gram-hash sets — the shared input of posting lists,
    * MinHash signatures and exact verification. Computed SCAN-LOCALLY by
    * the fused [[graft.plans.Expressions.GramHashes]] kernel: no explode,
    * no per-gram string build, and — unlike the former
    * explode → groupBy(id) → collect_set form — no shuffle at all. At
    * 100 TB this stage is pure map-side work that scales with input
    * splits; the first exchange of any dedup plan is the (much smaller)
    * posting or signature shuffle.
    */
  def gramHashSets(df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    df.select(col(idCol),
      graft.plans.Expressions.text_gram_hashes(col(textCol), n).as("gs"))

  /** MinHash signatures: numHashes universal-hash permutations
    * h_i(x) = (a_i·x + b_i) mod p over the shingle hashes, minimum per
    * permutation. a/b are drawn from a fixed seed → fully deterministic.
    *
    * Implementation note: a native codegen'd expression
    * ([[graft.plans.Expressions.MinHashSignature]]) maintains all k minima
    * in ONE scan of each (already collected, already distinct) gram-hash
    * set — no explode, no k-wide aggregation, no re-shuffle. (History: the
    * explode → 64 min-aggs form cost k·|grams| agg updates; a higher-order
    * `array_min(transform(...))` was ~2x slower again — HOF lambdas
    * evaluate interpreted, per element.) Output: (id, sig ArrayType(Long)).
    */
  def minhashSignatures(
      gramSets: DataFrame,
      idCol: String,
      numHashes: Int,
      seed: Long
  ): DataFrame = {
    val rnd = new scala.util.Random(seed)
    // 2^31 - 1 keeps a·h + b < 2^62: no long overflow under ANSI mode
    val p = 2147483647L
    val coeffs = Seq.fill(numHashes)((1 + math.abs(rnd.nextLong()) % (p - 1),
                                      math.abs(rnd.nextLong()) % p))
    // math.abs(Long.MinValue) is negative: a (fantastically unlikely,
    // ~2^-57/draw) degenerate draw must reject loudly, not silently skew
    // band-collision probabilities — the derivation itself stays as-is
    // because these coefficients ARE the persisted-index signature format
    require(coeffs.forall { case (a, b) => a > 0 && b >= 0 },
      s"minhashSignatures: degenerate coefficient draw under seed $seed — " +
        "choose a different seed")
    gramSets.select(col(idCol),
      graft.plans.Expressions.minhash_signature(
        col("gs"), coeffs.map(_._1), coeffs.map(_._2), p).as("sig"))
  }

  /** Band buckets of a signature frame: one `(id, band, bucket)` row per
    * (document, band), bucket = Murmur3 `hash` of the band's
    * `(i: int, m: long)` structs in ascending position `i`, assembled and
    * hashed scan-locally (no shuffle). Deterministic across sessions and
    * partitionings, so buckets computed today join against buckets
    * persisted last month ([[graft.dedup.DedupIndex]]): bucket equality IS
    * the persisted-index format, and DedupIndexSpec pins it against the
    * explode → groupBy → `collect_list` form. A NULL signature (a <n-token
    * document) emits no rows, and a band with no positions
    * (bands > numHashes) is omitted, as in that grouped form.
    */
  def bandBuckets(sigs: DataFrame, idCol: String, bands: Int): DataFrame = {
    val banded = transform(
      sequence(lit(0), least(lit(bands - 1), size(col("sig")) - 1)), b =>
      struct(
        b.as("band"),
        hash(transform(
          filter(sequence(lit(0), size(col("sig")) - 1), i => i % bands === b),
          i => struct(i.as("i"), element_at(col("sig"), i + 1).as("m"))))
          .as("bucket")))
    sigs.where(col("sig").isNotNull)
      .select(col(idCol), explode(banded).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** MinHash LSH candidate pairs: split signatures into `bands`, bucket on
    * (band index, band hash), join within buckets. Probability a pair with
    * Jaccard j becomes a candidate: 1 − (1 − j^rows)^bands.
    */
  def minhashCandidates(sigs: DataFrame, idCol: String, bands: Int): DataFrame = {
    val banded = bandBuckets(sigs, idCol, bands)
    val l = banded.select(col(idCol).as("id1"), col("band"), col("bucket"))
    val r = banded.select(col(idCol).as("id2"), col("band"), col("bucket"))
    l.join(r, Seq("band", "bucket")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2")).distinct()
  }

  /** MinHash LSH near-dup detection: candidates from band buckets, then
    * exact Jaccard verification — output identical in shape (and, at
    * recall≈1 operating points, in content) to [[ngramJaccardPairs]] while
    * shuffling only candidates.
    */
  def minhashDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      numHashes: Int = 64,
      bands: Int = 32,
      threshold: Double = 0.5
  ): DataFrame = {
    // gramSets feeds three consumers (signatures + both verification
    // sides). The build is scan-local (one fused expression), so each
    // consumer re-tokenizes the corpus and nothing outlives the query;
    // caching is the caller's choice. Fanout spreads an under-parallel
    // scan before the tokenize (a no-op past its guard).
    val gramSets = gramHashSets(graft.operators.Fanout(df, Seq(idCol)),
      idCol, textCol, n)
    val sigs = minhashSignatures(gramSets, idCol, numHashes, seed = 42L)
    val cands = minhashCandidates(sigs, idCol, bands)
    // exact Jaccard on CANDIDATES ONLY — the whole point of LSH: per-doc
    // gram sets join to the (small) candidate pair list, never to each
    // other, so cost scales with candidates, not with shared-gram pairs.
    cands
      .join(gramSets.select(col(idCol).as("id1"), col("gs").as("gs1")), Seq("id1"))
      .join(gramSets.select(col(idCol).as("id2"), col("gs").as("gs2")), Seq("id2"))
      .withColumn("inter", size(array_intersect(col("gs1"), col("gs2"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("gs1")) + size(col("gs2")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), col("jaccard"))
  }

  /** Connected components over a near-dup pair list: every document in a
    * transitively-connected duplicate group gets the group's minimum id as
    * `cluster_id` — the canonical "keep-one" key of corpus dedup (pairs
    * alone under-merge: A~B, B~C must collapse to ONE cluster even when
    * A~C was never emitted).
    *
    * Algorithm: stats-driven, AQE-style. The edge list is materialized
    * (it is candidate-sized — near-dup pairs, orders of magnitude below
    * the corpus) and counted once; a graph at or under `driverMaxEdges`
    * runs a driver-side union-find (O(E α(E)), one collect bounded by the
    * explicit threshold — the same bounded-collect class as the k-means
    * seed and nlist-cell collects) while a larger one runs iterative
    * min-label propagation on the cluster. Propagation rounds = graph
    * diameter (near-dup graphs are clusters of near-identical docs —
    * diameter a handful at worst), each round one join of the labels
    * frame against the pair list, shuffle width sized to the edge count,
    * so the cost is rounds × join(|pairs|), never corpus-sized.
    * `maxIterations` hard-stops pathological chains; the result is then
    * still a valid (if unconverged) refinement —
    * [[connectedComponentsWithStatus]] exposes the converged flag, and
    * this convenience form logs a warning instead (an unconverged
    * labeling can keep >1 doc per true cluster on chains whose diameter
    * exceeds `maxIterations`).
    */
  def connectedComponents(
      pairs: DataFrame,
      maxIterations: Int = 20,
      driverMaxEdges: Long = DefaultDriverMaxEdges
  ): DataFrame = {
    val (labels, converged) =
      connectedComponentsWithStatus(pairs, maxIterations, driverMaxEdges)
    if (!converged)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"connectedComponents: label propagation did not converge within " +
          s"$maxIterations iterations; cluster_ids are a valid refinement but " +
          "may split longer-diameter chains — raise maxIterations")
    labels
  }

  /** Edge-count threshold under which connected components runs as a
    * driver-side union-find instead of iterative cluster rounds: 4M edges
    * ≈ 64 MB collected — the same bounded-collect size class as the ANN
    * seed/cell collects. Above it, label propagation runs distributed.
    */
  val DefaultDriverMaxEdges: Long = 4000000L

  /** [[connectedComponents]] plus an explicit convergence flag: `true` iff
    * the labeling is complete — always for the union-find path, and for
    * propagation iff a full round changed no label before `maxIterations`
    * ran out. Callers that must not act on partial clusters gate on the
    * flag. Set `driverMaxEdges = 0` to force the distributed path.
    */
  def connectedComponentsWithStatus(
      pairs: DataFrame,
      maxIterations: Int = 20,
      driverMaxEdges: Long = DefaultDriverMaxEdges
  ): (DataFrame, Boolean) = {
    val spark = pairs.sparkSession
    // loud reject, the ngramJaccardPairs convention: a null or
    // non-integral id would otherwise cast to null, fail the =!= filter
    // as SQL-null, and silently drop the EDGE — an all-string-id pair
    // table would yield an empty labeling and keep every duplicate
    def checkedId(c: String) = when(
      col(c).isNull || expr(s"try_cast($c AS BIGINT)").isNull,
      raise_error(concat(
        lit(s"connectedComponents: $c is null or not integral: "),
        col(c).cast("string"))))
      .otherwise(expr(s"try_cast($c AS BIGINT)")).as(c)
    val edges = pairs.select(checkedId("id1"), checkedId("id2"))
      .where(col("id1") =!= col("id2"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Strategy probe and small-graph collect in ONE job (r19; was
    // count-then-collect, i.e. two jobs and two passes over the cached
    // edges): every task counts its WHOLE partition but ships at most
    // `perTaskCap` edges, so the driver learns the exact edge count and —
    // whenever the graph is small — already holds the edges, while a huge
    // pair table still ships only a bounded sample (≤ 2× the bound plus
    // 64/partition slack, transiently) before falling to propagation. A
    // skew-pathological small graph (one partition > cap of a ≤ bound
    // total under hash-distinct partitioning) spuriously takes the
    // distributed path, which is result-equivalent by construction.
    val nParts = math.max(edges.rdd.getNumPartitions, 1)
    val perTaskCap = math.max(driverMaxEdges / nParts * 2, 64L)
    val capped: Array[(Int, Array[Long], Long)] =
      edges.rdd.mapPartitionsWithIndex { (pid, it) =>
        val buf = new scala.collection.mutable.ArrayBuffer[Long]()
        var n = 0L
        it.foreach { row =>
          n += 1
          if (n <= perTaskCap) { buf += row.getLong(0); buf += row.getLong(1) }
        }
        Iterator((pid, buf.toArray, n))
      }.collect()
    val nEdges = capped.map(_._3).sum
    if (nEdges <= driverMaxEdges && capped.forall(_._3 <= perTaskCap)) {
      // Small-graph strategy (the overwhelmingly common dedup case: the
      // pair table is the candidate set, not the corpus): union-find on
      // the driver over the (complete — no task truncated) edge list.
      // Union-by-min + path compression keeps the representative = min id
      // of the component, identical to what min-label propagation
      // converges to, so the two paths are result-equivalent and oracle
      // replays are strategy-independent. A 20-stage propagation on a
      // 51-edge graph costs ~2 s of pure scheduling; this path costs one
      // job (SCALE.md).
      edges.unpersist()
      val parent = new java.util.HashMap[Long, Long]()
      def find(x: Long): Long = {
        var r = x
        while (parent.get(r) != r) r = parent.get(r)
        var c = x
        while (parent.get(c) != r) { val n = parent.get(c); parent.put(c, r); c = n }
        r
      }
      // partition order, like collect() returned — same insertion
      // sequence as before, so the emitted labeling is byte-stable
      capped.sortBy(_._1).foreach { case (_, flat, _) =>
        var i = 0
        while (i < flat.length) {
          val a = flat(i); val b = flat(i + 1)
          parent.putIfAbsent(a, a); parent.putIfAbsent(b, b)
          val ra = find(a); val rb = find(b)
          if (ra != rb) {
            if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
          }
          i += 2
        }
      }
      val out = new scala.collection.mutable.ArrayBuffer[(Long, Long)](parent.size)
      parent.keySet().forEach(id => out += ((id.toLong, find(id))))
      import spark.implicits._
      return (out.toSeq.toDF("doc_id", "cluster_id"), true)
    }
    // Large-graph strategy: iterative min-label propagation, shuffle
    // width sized to the GRAPH, not the session — each round persists
    // its output, which pins the full shuffle width onto every subsequent
    // stage (AQE does not re-coalesce cached plans). ~2M edges per
    // partition, so a billion-edge graph still fans out. The override is
    // scoped to a CLONED SparkSession (SQL confs are per-session; the
    // context is shared): mutating the caller's session conf would
    // compile any CONCURRENTLY planned query on this session with the
    // graph's width — 3 partitions for a corpus-scale join, or thousands
    // for a point lookup.
    val np = math.max(1L, math.min(spark.sparkContext.defaultParallelism.toLong,
      nEdges / 2000000L + 1L)).toString
    val loopSession = spark.newSession()
    // newSession() initializes SQL confs from the base SparkConf, not the
    // caller's session — copy the caller's RUNTIME confs (timezone, ANSI,
    // AQE toggles) first so the clone differs ONLY in shuffle width
    spark.conf.getAll.foreach { case (k, v) =>
      // static/core confs reject runtime set — they are session-invariant
      // anyway, so skipping them is exactly right
      scala.util.Try(loopSession.conf.set(k, v)); ()
    }
    loopSession.conf.set("spark.sql.shuffle.partitions", np)
    // both directions once, so one join propagates labels both ways;
    // rebased onto the loop session via the (session-free) RDD
    val und0 = edges.unionByName(
      edges.select(col("id2").as("id1"), col("id1").as("id2")))
    val und = loopSession.createDataFrame(und0.rdd, und0.schema)
    var labels = und.select(col("id1").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    var converged = false
    var i = 0
    while (!converged && i < maxIterations) {
      // min over neighbors' labels, change-detection folded into the
      // same pass (nbr < label) — one action per round, no extra join
      val next = und
        .join(labels.select(col("id").as("id2"), col("label").as("nlabel")),
          Seq("id2"))
        .groupBy(col("id1").as("id"))
        .agg(min(col("nlabel")).as("nbr"))
        .join(labels, Seq("id"))
        .select(col("id"), least(col("label"), col("nbr")).as("label"),
          (col("nbr") < col("label")).as("chg"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val changed = next.where(col("chg")).limit(1).count()
      labels.unpersist()
      labels = next
      converged = changed == 0
      i += 1
    }
    edges.unpersist()
    // truncate the iteration lineage: the result is a small (candidate-set
    // sized) frame; localCheckpoint materializes it once and its blocks are
    // released by the ContextCleaner when the frame is garbage-collected —
    // no session-lifetime cache entry, and no exponential recompute of the
    // join chain if the caller runs multiple actions
    val out = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .localCheckpoint(true)
    labels.unpersist()
    (out, converged)
  }

  /** Keep-one canonicalization: drop every doc whose `cluster_id` names a
    * different (smaller-id) representative — the end-to-end "remove the
    * near-dups" step of a curation pipeline.
    */
  def dropDuplicateClusters(
      df: DataFrame,
      idCol: String,
      pairs: DataFrame
  ): DataFrame = {
    val losers = connectedComponents(pairs)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** SimHash 64-bit fingerprints: per-token hash bits weighted-majority
    * voted. Near-dups have small Hamming distance.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = TextMetrics.tokens(TextMetrics.normalize(col(textCol)))
    val t = df.select(col(idCol), explode(toks).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    // one row per (doc, bit): vote +1 if bit set else -1; majority → bit
    val bits = (0 until 64).map { b =>
      sum(when(col("h").bitwiseAND(lit(1L << b)) =!= 0, 1).otherwise(-1)).as(s"b$b")
    }
    t.groupBy(col(idCol)).agg(bits.head, bits.tail: _*)
      .select(col(idCol),
        (0 until 64).map(b => when(col(s"b$b") > 0, lit(1L << b)).otherwise(0L))
          .reduce(_.bitwiseOR(_)).as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, bucketed on
    * 16-bit bands. Pigeonhole: distance ≤ 3 ⇒ at least one of 4 bands
    * equal, so only band-colliding docs are compared — and therefore
    * maxHamming > 3 would silently miss pairs whose differing bits span
    * all four bands; the guard makes that a hard error instead.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3): DataFrame =
    hammingPairs(simhash(df, idCol, textCol), idCol, "simhash", maxHamming)

  /** Near-dup pairs of any 64-bit fingerprint column with Hamming
    * distance ≤ `maxHamming`, bucketed on 16-bit bands — the banding
    * engine behind [[simhashPairs]] (text) and
    * [[graft.multimodal.Multimodal.imageDupPairs]] (dHash). Pigeonhole:
    * distance ≤ 3 ⇒ at least one of 4 bands equal, so only
    * band-colliding rows are compared — and therefore maxHamming > 3
    * would silently miss pairs whose differing bits span all four bands;
    * the guard makes that a hard error instead.
    */
  def hammingPairs(fp: DataFrame, idCol: String, hashCol: String,
                   maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3,
      s"4-band bucketing guarantees recall only for hamming <= 3, got $maxHamming; " +
        "use more/narrower bands for larger distances")
    val banded = fp.select(col(idCol), col(hashCol),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
          shiftright(col(hashCol), b * 16).bitwiseAND(lit(0xFFFFL)).as("key"))): _*))
        .as("bk"))
      .select(col(idCol), col(hashCol), col("bk.band"), col("bk.key"))
    val l = banded.select(col(idCol).as("id1"), col(hashCol).as("s1"), col("band"), col("key"))
    val r = banded.select(col(idCol).as("id2"), col(hashCol).as("s2"), col("band"), col("key"))
    l.join(r, Seq("band", "key")).where(col("id1") < col("id2"))
      .select(col("id1"), col("id2"),
        bit_count(col("s1").bitwiseXOR(col("s2"))).as("hamming"))
      .distinct()
      .where(col("hamming") <= maxHamming)
  }

  /** Cosine similarity of two double-array columns — a native codegen'd
    * expression ([[graft.plans.Expressions.CosineSimilarity]]): one fused
    * loop, no intermediate zipped arrays; left-to-right summation matches
    * DuckDB list functions for the oracle.
    */
  def cosine(a: Column, b: Column): Column =
    graft.plans.Expressions.cosine_similarity(a, b)

  /** Embedding near-dup pairs above a cosine threshold. All-pairs baseline
    * (O(n²) — the oracle path); use [[graft.sim.Similarity.lshCosinePairs]]
    * at scale.
    */
  def embeddingDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double
  ): DataFrame = {
    val v = df.select(col(idCol), transform(col(vecCol), _.cast("double")).as("v"))
    val a = v.select(col(idCol).as("id1"), col("v").as("v1"))
    val b = v.select(col(idCol).as("id2"), col("v").as("v2"))
    a.crossJoin(b).where(col("id1") < col("id2"))
      .withColumn("cosine", cosine(col("v1"), col("v2")))
      .where(col("cosine") >= threshold)
      .select(col("id1"), col("id2"), col("cosine"))
  }

  // ---- Substring/passage-level dedup: remove repeated SPANS across
  // documents, not whole documents — the standard LLM-corpus requirement
  // (cf. Lee et al., "Deduplicating Training Data Makes Language Models
  // Better": exact substring dedup via suffix arrays). The Spark-native
  // shape replaces the suffix array with fixed-width positional gram
  // hashes: a width-w token window repeated across >= minDocFreq documents
  // is a repeated span; every occurrence outside the keep document (min
  // id) is removed, and overlapping windows merge into maximal removed
  // regions via covered-token union.
  //
  // Scale design: unlike the pair-generating dedups above, NOTHING here is
  // quadratic — each gram occurrence is one row, the repeated-gram
  // decision is a two-level aggregate (partial map-side combine on
  // (gh, id), then tiny per-gram stats), and the decision joins back to
  // occurrences on the 64-bit gram hash. A boilerplate gram shared by
  // millions of documents is still one row per occurrence through that
  // join (AQE-splittable skew, not a pair explosion), so no df cap is
  // NEEDED for cost; `maxDocFreq` is a semantic valve — grams above it are
  // ubiquitous chrome the caller may prefer to leave to line-level filters
  // (C4-style) rather than punch out of every document.

  /** Repeated-span occurrences to remove: `(id, pos)` pairs where the
    * width-`width` token window starting at 0-based position `pos` of
    * document `id` also appears in at least `minDocFreq − 1` OTHER
    * documents and `id` is not the keep document (min id over the gram's
    * postings — keep-one, like [[exactGroups]]). Positions index the
    * normalized token stream (`TextMetrics.normalize` → whitespace split),
    * the same boundaries the fused gram kernel uses.
    *
    * Hash collisions MUTATE TEXT here: spans match on the 64-bit gram
    * hash, not the substring (the published exact-substring technique —
    * Lee et al. 2022, "Deduplicating Training Data Makes Language Models
    * Better" — compares real suffixes), so two different windows that
    * collide cause a legitimate span to be punched out of a legitimate
    * document. At W total windows the expected number of colliding pairs
    * is ≈ W²/2⁶⁵ — negligible at test scale but ~10⁶ pairs at the 100 TB
    * design point (W ≈ 10¹³), i.e. an O(width · 10⁶ / 10¹³) ≈ 10⁻⁶
    * fraction of corpus tokens falsely removed. That is usually an
    * acceptable trade for a training corpus (the removal is random noise,
    * not bias); collision-sensitive deployments pass
    * `exactVerify = true`, which re-compares the ACTUAL token windows of
    * hash-matched occurrences against the keeper's window and drops
    * removals whose text differs — restoring Lee et al.'s
    * exact-substring guarantee at a cost proportional to the CANDIDATE
    * set (each candidate occurrence rejoins its document's token array
    * once), not the corpus.
    */
  def spanRemovals(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8,
      minDocFreq: Int = 2,
      maxDocFreq: Int = Int.MaxValue,
      exactVerify: Boolean = false
  ): DataFrame = {
    require(width >= 1, s"span width must be positive, got $width")
    require(minDocFreq >= 2,
      s"minDocFreq must be >= 2 (a span repeated in one doc is not cross-document), got $minDocFreq")
    // The positional posting frame has ONE consumer (the candidate join);
    // the stats side runs on the fused distinct-set kernel below, so each
    // text is tokenized once per side and nothing is persisted.
    val grams = df.select(col(idCol).as("id"),
      posexplode(graft.plans.Expressions.text_gram_hash_seq(col(textCol), width))
        .as(Seq("pos", "gh")))
    // Per-gram stats see DOCUMENT frequency, not occurrence frequency —
    // i.e. they aggregate distinct (gh, doc). r19 (guide §2.3/§2.4): the
    // fused SET kernel computes the per-doc distinct grams scan-locally
    // ([[TextGramHashes]] and the positional kernel share the tokenizer
    // and gram-hash chain, so they agree on which grams exist) — ONE
    // exchange of per-gram partials instead of the full distinct-(gh, id)
    // posting shuffle followed by a second per-gram exchange. Measured at
    // sf0.1: the stats subtree loses an exchange and a serial agg pass;
    // the set kernel is cheaper than posexplode of the positional one.
    val stats = df.select(col(idCol).as("id"),
        explode(graft.plans.Expressions.text_gram_hashes(col(textCol), width))
          .as("gh"))
      .groupBy(col("gh"))
      .agg(count(lit(1)).as("df"), min(col("id")).as("keep_id"))
      .where(col("df").between(minDocFreq, maxDocFreq))
      .select(col("gh"), col("keep_id"))
    val cand = grams.join(stats, Seq("gh"))
    if (!exactVerify)
      cand.where(col("id") =!= col("keep_id")).select(col("id"), col("pos"))
    else {
      // re-materialize the literal token windows of candidate
      // occurrences only (the candidate set is tiny next to the corpus)
      // and keep a removal iff its window EQUALS the keeper's window at
      // that hash — a colliding gram verifies unequal and survives.
      // (normTokens for consistency with spanDedup; a blank doc has no
      // grams and therefore no candidates, so behavior is identical.)
      val toks = df.select(col(idCol).as("id"),
        TextMetrics.normTokens(col(textCol)).as("toks"))
      val withText = cand.join(toks, Seq("id"))
        .withColumn("wtext",
          concat_ws(" ", slice(col("toks"), col("pos") + 1, lit(width))))
        .drop("toks")
      // the keeper's reference window: its first occurrence of the hash
      // (any occurrence works when there is no collision; min pos makes
      // the choice deterministic when there is one)
      val keepText = withText.where(col("id") === col("keep_id"))
        .groupBy(col("gh")).agg(min_by(col("wtext"), col("pos")).as("ktext"))
      withText.where(col("id") =!= col("keep_id"))
        .join(keepText, Seq("gh"))
        .where(col("wtext") === col("ktext"))
        .select(col("id"), col("pos"))
    }
  }

  /** Cleaned corpus after cross-document span removal: per document, every
    * token covered by a removed span ([[spanRemovals]]) is elided from the
    * NORMALIZED token stream and the survivors are re-joined with single
    * spaces — the text a training pipeline would feed downstream. Output:
    * `(id, n_spans, n_kept, clean_text)`; documents with nothing removed
    * pass through with their full normalized token stream (`n_spans` 0).
    */
  def spanDedup(
      df: DataFrame,
      idCol: String,
      textCol: String,
      width: Int = 8,
      minDocFreq: Int = 2,
      maxDocFreq: Int = Int.MaxValue,
      exactVerify: Boolean = false
  ): DataFrame = {
    val removals = spanRemovals(df, idCol, textCol, width, minDocFreq,
      maxDocFreq, exactVerify)
    val starts = removals.groupBy(col("id"))
      .agg(collect_list(col("pos")).as("starts"))
    // normTokens, NOT tokens∘normalize: a blank/punct-only document
    // normalizes to "" and split("") yields [""] — a phantom token that
    // made n_kept read 1 for empty documents (caught by SpanFuzzSpec)
    val toks = df.select(col(idCol).as("id"),
      TextMetrics.normTokens(col(textCol)).as("toks"))
    toks.join(starts, Seq("id"), "left")
      .withColumn("starts", coalesce(col("starts"), array().cast("array<int>")))
      // token i survives iff no removed span [s, s+width) covers it; the
      // lambda runs scan-local over the per-doc starts array (bounded by
      // spans-per-doc, small by construction)
      .withColumn("kept", filter(col("toks"),
        (t, i) => !exists(col("starts"), s => i >= s && i < s + width)))
      .select(col("id"),
        size(col("starts")).as("n_spans"),
        size(col("kept")).as("n_kept"),
        concat_ws(" ", col("kept")).as("clean_text"))
  }

  /** Benchmark decontamination: per corpus document, how much of it
    * overlaps a held-out benchmark/eval set at width-`width` token
    * granularity — the pre-training hygiene step that keeps test
    * questions out of the training corpus (GPT-3-style n-gram overlap
    * filtering; 13-gram is the published dial, `width` here). Output per
    * corpus doc: distinct gram count, grams also present anywhere in the
    * benchmark, the overlap fraction, and the drop verdict
    * (`contaminated` = fraction > `maxOverlapFrac`, so the default 0.0
    * means "any shared window condemns the document").
    *
    * Scale: the corpus side is one fused-kernel scan to distinct
    * (doc, gram-hash) rows — no pair explosion, no positions. The
    * benchmark side collapses to DISTINCT gram hashes and is broadcast:
    * eval sets are MB-scale next to a 100 TB corpus, so the benchmark
    * probe is a broadcast hash join (no SortMergeJoin — pinned in
    * PlanSpec) and the corpus never shuffles KEYED BY GRAM ALONE. The
    * corpus's distinct (doc, gram) pairs do exchange twice — once
    * hash-partitioned by (id, gh) for the `distinct`, once by id for the
    * per-doc counts — both partial-aggregated map-side and linear in the
    * corpus, the unavoidable cost of exact per-document overlap counts.
    * Gram-hash collisions only perturb the overlap COUNT here (≈2⁻⁶⁴ per
    * window pair), but with the default `maxOverlapFrac = 0.0` a single
    * colliding window still condemns a document — the same caveat as
    * [[spanRemovals]], at document rather than span granularity.
    */
  def contamination(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      width: Int = 8,
      maxOverlapFrac: Double = 0.0
  ): DataFrame = {
    require(width >= 1, s"gram width must be positive, got $width")
    val cg = corpus.select(col(idCol).as("id"),
        explode(graft.plans.Expressions.text_gram_hash_seq(col(textCol), width))
          .as("gh"))
      .distinct()
    val bg = bench.select(
        explode(graft.plans.Expressions.text_gram_hash_seq(col(benchTextCol), width))
          .as("gh"))
      .distinct()
    val perDoc = cg.join(broadcast(bg.withColumn("hit", lit(1))), Seq("gh"), "left")
      .groupBy(col("id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce(col("hit"), lit(0))).as("n_contaminated"))
    // docs shorter than `width` tokens produce no grams — they can't be
    // contaminated at this granularity and pass through with zero counts
    corpus.select(col(idCol).as("id")).join(perDoc, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"),
        coalesce(col("n_contaminated") / col("n_grams"), lit(0.0))
          .as("contaminated_frac"))
      .withColumn("contaminated", col("contaminated_frac") > maxOverlapFrac)
  }

  /** The corpus with contaminated documents removed — [[contamination]]'s
    * verdict applied as an anti-join, keeping the corpus schema.
    */
  def decontaminate(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      bench: DataFrame,
      benchTextCol: String,
      width: Int = 8,
      maxOverlapFrac: Double = 0.0
  ): DataFrame =
    corpus.join(
      contamination(corpus, idCol, textCol, bench, benchTextCol, width, maxOverlapFrac)
        .where(col("contaminated")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")
}
