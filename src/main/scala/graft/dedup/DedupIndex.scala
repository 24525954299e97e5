package graft.dedup

import graft.util.AtomicStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash LSH dedup index — incremental corpus ingestion
  * (builder north-star scope; no counterpart in the reference). A corpus
  * built over months cannot re-run all-corpus dedup per batch: the index
  * is fit ONCE over the existing corpus, each arriving batch is queried
  * against it (near-dup pairs back), and survivors are APPENDED so the
  * next batch sees them. The dedup counterpart of the vector stores in
  * [[graft.sim.CodesStore]] (fit / serve / append / delete / compact over
  * the same [[graft.util.AtomicStore]] generations, lease and tombstone
  * reader), with a lifecycle of its own: its unit of writing is a tagged
  * subdirectory completed by `_SUCCESS`, and its fold keeps a
  * folded-tags ledger instead of a stream highwater.
  *
  * Store layout: `path/` holds committed generation directories
  * (`gen-N/` + `_commit_N` markers — the crash-atomic publish protocol of
  * [[graft.util.AtomicStore]]; pre-protocol stores with tables at the
  * root still resolve). Inside a generation:
  *  - `meta`   — one row: (n, num_hashes, bands, seed)
  *  - `bands`  — (id, band, bucket): the LSH postings, corpus × bands rows
  *  - `grams`  — (id, gs): per-doc n-gram xxhash64 sets, for exact-Jaccard
  *               verification of candidates
  *  - `tombstones` — (id): documents removed by [[delete]]; masked from
  *               [[query]] immediately, physically reclaimed by [[compact]]
  * `bands`/`grams` rows live in one SUBDIRECTORY PER WRITE (`base`, then
  * one per append) and are read with `recursiveFileLookup`: a re-run
  * append that names the same tag OVERWRITES its own directory instead of
  * doubling rows — the idempotence [[ingestStream]] is built on.
  *
  * Determinism contract: signatures are fixed-seed universal hashes over
  * fixed-seed xxhash64 gram hashes, and buckets are fixed-seed Murmur3
  * over position-sorted minima ([[Dedup.bandBuckets]]) — so bands written
  * by any session/partitioning join exactly against bands computed by any
  * other. That equality IS the index format.
  *
  * Scale shape of [[query]]: the batch side (a daily increment, orders of
  * magnitude below the corpus) is BROADCAST to the persisted postings
  * scan, so the corpus-sized `bands` table never shuffles; candidates —
  * the only corpus rows that move — are LSH-pruned before the exact
  * verification joins. Cost tracks the batch and its candidates, not the
  * corpus.
  */
object DedupIndex {

  final case class Params(n: Int, numHashes: Int, bands: Int, seed: Long)

  /** Store size below which [[query]] skips the bucket-pushdown probe:
    * the probe is one extra driver round-trip per query, which at an
    * MB-scale store costs more than the full postings scan it would
    * prune (measured: q_dedup_index median 0.63 → 1.23 s with the probe
    * always on at the gate store). 64 MB ≈ where a pruned scan starts
    * winning on this box; callers with known-large stores can pass 0 to
    * force the pushdown.
    */
  val DefaultPushdownMinStoreBytes: Long = 64L << 20

  /** Fit the index over the existing corpus and persist it — as a fresh
    * committed generation (`graft.util.AtomicStore`): meta and the base
    * rows land under `gen-N/` and the store only advances on the final
    * marker commit, so a crash mid-fit (or a concurrent [[query]]) can
    * never pair new-generation Params with old-generation postings. A
    * fresh generation also has no earlier append subdirs — a (re)fit
    * defines the whole store.
    */
  def write(df: DataFrame, idCol: String, textCol: String, path: String,
            n: Int = 3, numHashes: Int = 64, bands: Int = 32,
            seed: Long = 42L): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    val (gen, gdir) = AtomicStore.begin(spark, path)
    AtomicStore.failpoint("dedup:meta")
    Seq((n, numHashes, bands, seed))
      .toDF("n", "num_hashes", "bands", "seed")
      .write.mode("overwrite").parquet(s"$gdir/meta")
    writeRows(df, idCol, textCol, gdir, Params(n, numHashes, bands, seed),
      tag = "base")
    AtomicStore.commit(spark, path, gen)
    invalidateCaches(path)
  }

  /** Per-JVM caches keyed on PATH, with the directory mtime observed at
    * load stamped on the value: [[query]] is a hot serving path, and
    * re-reading the 1-row meta parquet plus re-walking the store per call
    * adds two driver round-trips — the exact cost class the size-aware
    * pushdown note below measures. Mutations through THIS JVM
    * ([[write]]/[[append]]) invalidate directly; cross-JVM mutations are
    * caught by the mtime check — and when the filesystem cannot produce a
    * trustworthy mtime (errors → -1; object stores report 0 or a constant
    * for directories) the cache is BYPASSED rather than trusted, so a
    * refit with different n/numHashes/bands/seed can never serve stale
    * Params. One entry per path (not per (path, generation)), so the maps
    * stay bounded at the number of distinct stores this JVM touches.
    */
  private val paramsCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Params)]
  private val storeSizeCache =
    scala.collection.concurrent.TrieMap.empty[String, (Long, Long)]

  private def invalidateCaches(path: String): Unit = {
    // entries are keyed by the resolved generation directory under `path`
    Seq(paramsCache, storeSizeCache).foreach { c =>
      c.keys.filter(k => k == path || k.startsWith(path + "/"))
        .foreach(c.remove)
    }
  }

  private def cachedByMtime[V](
      cache: scala.collection.concurrent.TrieMap[String, (Long, V)],
      path: String, mtime: Long)(load: => V): V =
    if (mtime <= 0L) load // untrustworthy mtime: never cache
    else cache.get(path) match {
      case Some((m, v)) if m == mtime => v
      case _ => val v = load; cache.put(path, (mtime, v)); v
    }

  private def dirMtime(spark: SparkSession, dir: String): Long = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try fs.getFileStatus(p).getModificationTime catch { case _: Exception => -1L }
  }

  def params(spark: SparkSession, path: String): Params =
    paramsIn(spark, AtomicStore.resolveCached(spark, path))

  /** [[params]] inside an already-resolved generation directory. A
    * committed generation's meta is immutable, but the resolved dir can
    * still be the mutable LEGACY root (pre-protocol stores), so the mtime
    * guard stays.
    */
  private def paramsIn(spark: SparkSession, dir: String): Params =
    cachedByMtime(paramsCache, dir, dirMtime(spark, s"$dir/meta")) {
      val m = spark.read.parquet(s"$dir/meta").head()
      Params(m.getAs[Int]("n"), m.getAs[Int]("num_hashes"),
        m.getAs[Int]("bands"), m.getAs[Long]("seed"))
    }

  /** Add a batch to the searchable set (postings + gram sets appended;
    * no driver-side model exists, so there is nothing to invalidate).
    * Callers typically append the SURVIVORS of [[dedupBatch]]. `tag`
    * names the write's subdirectory: re-running an append WITH THE SAME
    * TAG overwrites it (idempotent — what [[ingestStream]] relies on);
    * the default draws a fresh tag per call (plain grow-the-store).
    */
  def append(df: DataFrame, idCol: String, textCol: String,
             path: String, tag: String = ""): Unit = {
    val spark = df.sparkSession
    val t = if (tag.nonEmpty) tag
      else s"a${java.util.UUID.randomUUID().toString.take(8)}"
    // 'base' is RESERVED for the fitted rows: an append under it would
    // overwrite the fit on an uncompacted store, and after a compaction
    // the folded-tags ledger could silently absorb it forever
    require(t != "base",
      "DedupIndex.append: tag 'base' is reserved for the fitted rows — " +
        "pass a different tag (or none for a fresh random one)")
    // tags are directory names AND folded-ledger lines: a separator would
    // nest subdirectories and a 'b<=' prefix would parse as the ledger's
    // numbered-tag highwater, silently absorbing unrelated replays
    require(t.matches("[A-Za-z0-9._-]+"),
      s"DedupIndex.append: tag '$t' must match [A-Za-z0-9._-]+")
    AtomicStore.withMutationLease(spark, path,
        owner = s"DedupIndex.append:$t") {
      var dir = AtomicStore.resolve(spark, path)
      // delete→re-add is an UPSERT, never a dead-row resurrection: a batch
      // id colliding with a tombstoned id compacts the store first (the
      // fold drops the dead rows AND the tombstones), so only the new
      // rows serve — the [[graft.sim.Similarity.appendToIvfPqIndex]]
      // contract on the dedup store
      if (AtomicStore.tombstonesOpt(spark, dir).exists(tb =>
            !tb.join(df.select(col(idCol).as("id")).distinct(),
              Seq("id"), "left_semi").isEmpty)) {
        compact(spark, path)
        dir = AtomicStore.resolve(spark, path) // compact published a new gen
      }
      // replay absorption across compaction: a batch whose tagged subdir
      // was FOLDED into base by [[compact]] no longer exists to be
      // overwritten — re-appending it would duplicate its rows. The fold
      // records the folded tags in its generation; an explicitly-tagged
      // re-append of one is the at-least-once replay and is skipped (the
      // dedup highwater — random tags never collide and pass through).
      if (tag.nonEmpty && isFolded(foldedState(spark, dir), t)) {
        System.err.println(s"[graft] DedupIndex.append: tag '$t' was " +
          s"already folded into base by compact() at $path — skipping " +
          "(replay).")
      } else {
        writeRows(df, idCol, textCol, dir, paramsIn(spark, dir), t)
        invalidateCaches(path)
      }
    }
  }

  /** Remove documents from the searchable set by id: the ids land in a
    * `tombstones` table (a small parquet append — no postings rewrite,
    * regardless of corpus size) and [[query]] anti-joins candidates
    * against them, so deleted documents stop matching immediately. The
    * physical gram/band rows stay on disk until [[compact]] folds the
    * store (the fold excludes tombstoned rows and drops the table) — the
    * takedown/right-to-erasure path, mirroring
    * [[graft.sim.Similarity.deleteFromIvfPqIndex]]. Re-[[append]]ing a
    * deleted id compacts first (upsert semantics, see [[append]]).
    *
    * Same single-writer contract as every mutation here: run deletes
    * from the store's owner, not concurrently with [[ingestStream]].
    */
  def delete(ids: DataFrame, idCol: String, path: String): Unit =
    AtomicStore.withMutationLease(ids.sparkSession, path,
        owner = "DedupIndex.delete") {
      val dir = AtomicStore.resolve(ids.sparkSession, path)
      ids.select(col(idCol).as("id")).distinct()
        .write.mode("append").parquet(s"$dir/tombstones")
      invalidateCaches(path)
    }

  private val StreamTagRe = "^b([0-9]+)$".r

  /** Folded-tags ledger of one generation: (explicit tags, numbered-tag
    * highwater). Stream tags `b<N>` are summarized by ONE `b<=N` line so
    * the ledger stays O(random tags) over years of micro-batches instead
    * of growing one line per folded batch; legacy ledgers that still
    * list numbered tags explicitly parse into the set (honored, and
    * migrated into the highwater by the next [[compact]]).
    */
  private def foldedState(spark: SparkSession, dir: String): (Set[String], Long) = {
    val p = new org.apache.hadoop.fs.Path(s"$dir/_folded_tags")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) (Set.empty, -1L)
    else {
      val len = fs.getFileStatus(p).getLen.toInt
      val buf = new Array[Byte](len)
      val in = fs.open(p)
      try { in.readFully(0, buf) } finally in.close()
      val lines = new String(buf, "UTF-8").split("\n")
        .map(_.trim).filter(_.nonEmpty).toSet
      val hw = lines.collect { case s if s.startsWith("b<=") =>
        scala.util.Try(s.drop(3).toLong).getOrElse(-1L) }
        .foldLeft(-1L)(math.max)
      (lines.filterNot(_.startsWith("b<=")), hw)
    }
  }

  /** Whether `tag` was already folded into base: explicitly listed, or a
    * numbered stream tag at or under the highwater. The highwater is
    * sound because stream batch tags commit IN ORDER under the
    * single-writer contract — a complete `b7` implies every `b<7` was
    * either complete (folded) or never written.
    */
  private def isFolded(state: (Set[String], Long), tag: String): Boolean =
    state._1.contains(tag) || (tag match {
      case StreamTagRe(n) => n.toLong <= state._2
      case _ => false
    })

  /** Write one tagged batch of rows into generation directory `dir`.
    * Crash-safe WITHOUT a new generation by write ORDER: grams land
    * before bands, and only a bands posting makes a document a candidate
    * — so a crash between the two leaves the batch merely unindexed
    * (orphan gram rows join nothing), never half-searchable, and the
    * tag-overwrite re-run replaces both.
    */
  private def writeRows(df: DataFrame, idCol: String, textCol: String,
                        dir: String, p: Params, tag: String): Unit = {
    val grams = Dedup.gramHashSets(df, idCol, textCol, p.n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      AtomicStore.failpoint("dedup:grams")
      grams.select(col(idCol).as("id"), col("gs"))
        .write.mode("overwrite").parquet(s"$dir/grams/$tag")
      val sigs = Dedup.minhashSignatures(grams, idCol, p.numHashes, p.seed)
      // postings sorted by bucket within each file: parquet row-group
      // min/max stats on `bucket` then let [[query]]'s pushed IN-filter
      // skip row groups — the point-lookup shape a small batch needs
      // against a corpus-sized store
      AtomicStore.failpoint("dedup:bands")
      Dedup.bandBucketsLocal(sigs, idCol, p.bands)
        .select(col(idCol).as("id"), col("band"), col("bucket"))
        .sortWithinPartitions(col("bucket"))
        .write.mode("overwrite").parquet(s"$dir/bands/$tag")
    } finally { grams.unpersist(); () }
  }

  private def readStore(spark: SparkSession, dir: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(dir)

  /** Fold the accumulated append subdirectories into a single `base`
    * write in a FRESH generation — the small-file compaction a
    * months-long [[ingestStream]] needs: one subdirectory per
    * micro-batch means thousands of tiny parquet files, and at corpus
    * scale the postings scan goes metadata-bound (file listing + footer
    * reads dominating row work). Nothing is recomputed: the committed
    * generation's rows are read once and rewritten (Spark's file
    * packing coalesces the tiny files ~32:1 under the default
    * maxPartitionBytes/openCost settings; bands re-sorted by bucket
    * within each output file, preserving the row-group min/max pushdown
    * shape [[query]] relies on), meta is copied verbatim, and the new
    * generation publishes with the same crash-atomic marker commit — a
    * crash mid-compaction leaves readers on the old generation, and
    * re-running completes it. Query results are identical before and
    * after by construction (same rows, same Params).
    */
  def compact(spark: SparkSession, path: String): Unit =
    AtomicStore.withMutationLease(spark, path, owner = "DedupIndex.compact") {
      compactIn(spark, path)
    }

  private def compactIn(spark: SparkSession, path: String): Unit = {
    import spark.implicits._
    val dir = AtomicStore.resolve(spark, path)
    val p = paramsIn(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(t: String): Set[String] = {
      val tp = new org.apache.hadoop.fs.Path(s"$dir/$t")
      if (fs.exists(tp)) fs.listStatus(tp).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      else Set.empty
    }
    val gramTags = subdirs("grams")
    val bandTags = subdirs("bands")
    // only COMPLETE appends fold: a crashed append's tag (grams written,
    // bands not — the crash window writeRows documents) must be neither
    // read (its orphan gram rows join nothing today and would become
    // permanent dead weight in base) nor recorded as folded — recording
    // it would make the at-least-once replay's folded-tags guard skip
    // the re-append, silently losing the batch's documents forever.
    // Directory EXISTENCE is not completion evidence: Spark creates the
    // output dir (holding only `_temporary/`) at job START, so a kill
    // anywhere inside the bands write leaves `bands/t` present but
    // uncommitted for the job's whole duration. Completion = the job
    // committer's own `_SUCCESS` marker in BOTH tables' tag dirs
    // (written as commitJob's final act — also excludes a kill inside
    // the commit's file-move loop, which leaves partial data files but
    // no marker). Self-calibrating: if this store's own `grams/base`
    // carries no `_SUCCESS` (a deployment that disabled
    // marksuccessfuljobs), fall back to committed-data-file presence.
    val successOn = fs.exists(
      new org.apache.hadoop.fs.Path(s"$dir/grams/base/_SUCCESS"))
    def committed(table: String, t: String): Boolean = {
      val tp = new org.apache.hadoop.fs.Path(s"$dir/$table/$t")
      if (successOn)
        fs.exists(new org.apache.hadoop.fs.Path(tp, "_SUCCESS"))
      else AtomicStore.hasDataFile(fs, tp)
    }
    val complete = (gramTags intersect bandTags)
      .filter(t => committed("grams", t) && committed("bands", t))
      .toSeq.sorted
    val orphans = (gramTags union bandTags) -- complete
    if (orphans.nonEmpty)
      System.err.println(s"[graft] DedupIndex.compact: skipping incomplete " +
        s"append tag(s) ${orphans.toSeq.sorted.mkString(", ")} at $path — " +
        "their rows are excluded from the fold and their tags stay " +
        "unrecorded, so an at-least-once replay can cleanly rewrite both " +
        "tables.")
    if (complete.isEmpty) return
    val tomb = AtomicStore.tombstonesOpt(spark, dir)
    def foldRows(table: String): DataFrame = {
      val rows = spark.read.parquet(complete.map(t => s"$dir/$table/$t"): _*)
      // the fold IS the delete's reclamation: tombstoned ids' rows are
      // dropped here and the fresh generation carries no tombstones
      tomb.fold(rows)(tb => rows.join(broadcast(tb), Seq("id"), "left_anti"))
    }
    val grams = foldRows("grams")
    val bands = foldRows("bands")
    // the folded-tags ledger of the new generation: explicit (random)
    // tags stay listed; numbered stream tags `b<N>` collapse into one
    // `b<=N` highwater line (bounded over years of batches — see
    // [[foldedState]]), with legacy explicit `b<N>` entries migrated in
    val (prevTags, prevHw) = foldedState(spark, dir)
    val nowTags = complete.toSet - "base"
    def hwOf(tags: Set[String]): Long = tags.collect {
      case StreamTagRe(n) => n.toLong }.foldLeft(-1L)(math.max)
    val newHw = math.max(prevHw, math.max(hwOf(prevTags), hwOf(nowTags)))
    val explicitTags = ((prevTags ++ nowTags) - "base")
      .filterNot(StreamTagRe.matches(_))
    val ledger = (explicitTags.toSeq.sorted ++
      (if (newHw >= 0L) Seq(s"b<=$newHw") else Nil)).mkString("\n")
    val (gen, gdir) = AtomicStore.begin(spark, path)
    AtomicStore.failpoint("dedup:meta")
    Seq((p.n, p.numHashes, p.bands, p.seed))
      .toDF("n", "num_hashes", "bands", "seed")
      .write.mode("overwrite").parquet(s"$gdir/meta")
    val ftOut = fs.create(
      new org.apache.hadoop.fs.Path(s"$gdir/_folded_tags"), true)
    try ftOut.write(ledger.getBytes("UTF-8"))
    finally ftOut.close()
    AtomicStore.failpoint("dedup:grams")
    grams.write.mode("overwrite").parquet(s"$gdir/grams/base")
    AtomicStore.failpoint("dedup:bands")
    bands.sortWithinPartitions(col("bucket"))
      .write.mode("overwrite").parquet(s"$gdir/bands/base")
    AtomicStore.commit(spark, path, gen)
    invalidateCaches(path)
  }

  /** Near-dup pairs between a new batch and the indexed corpus:
    * `(query_id, index_id, jaccard)` for every batch document whose exact
    * n-gram Jaccard against an indexed document reaches `threshold`,
    * LSH-pruned exactly like [[Dedup.minhashDedup]]. `excludeSelf` drops
    * `query_id == index_id` hits (a re-queried document always matches
    * its own postings).
    */
  def query(batch: DataFrame, idCol: String, textCol: String, path: String,
            threshold: Double = 0.5, excludeSelf: Boolean = true,
            pushdownMinStoreBytes: Long = DefaultPushdownMinStoreBytes): DataFrame =
    queryExcluding(batch, idCol, textCol, path, threshold, excludeSelf,
      excludeIndexIds = None, pushdownMinStoreBytes = pushdownMinStoreBytes)

  /** [[query]] with an index-side id blocklist — [[ingestStream]] passes
    * the batch's OWN ids so a checkpoint replay (whose earlier attempt
    * already appended this batch) reaches the same survivor set.
    */
  private def queryExcluding(batch: DataFrame, idCol: String, textCol: String,
                             path: String, threshold: Double,
                             excludeSelf: Boolean,
                             excludeIndexIds: Option[DataFrame],
                             pushdownMinStoreBytes: Long =
                               DefaultPushdownMinStoreBytes): DataFrame = {
    val spark = batch.sparkSession
    // hot serve path: TTL-cached generation resolution (one marker
    // listing per query is a metadata round-trip on an object store;
    // safe by AtomicStore's previous-generation retention)
    val dir = AtomicStore.resolveCached(spark, path)
    val p = paramsIn(spark, dir)
    // the batch's gram/minhash build feeds only broadcasts — spread an
    // under-parallel batch scan so it doesn't run serially (Fanout no-op
    // guard; per-doc outputs are exact, so results are layout-invariant)
    val grams = Dedup.gramHashSets(
        graft.operators.Fanout(batch, Seq(idCol)), idCol, textCol, p.n)
      .select(col(idCol).as("query_id"), col("gs"))
    val sigs = Dedup.minhashSignatures(grams, "query_id", p.numHashes, p.seed)
    // scan-local banding: the batch side feeds a broadcast, so there is no
    // self-join exchange to reuse — zero shuffle before the candidate join
    val qBandsLazy = Dedup.bandBucketsLocal(sigs, "query_id", p.bands)
    // PRUNE the store scan before it starts — when the store is big
    // enough to pay for the probe: the batch's bucket set is tiny
    // (≤ batch_rows × bands 64-bit hashes) and driver-known, so a literal
    // IN-predicate reaches the parquet scan (PushedFilters) and row-group
    // bucket min/max stats (the store is written bucket-sorted) skip
    // everything a point-ish batch can't match — the index reads
    // O(candidates), not O(corpus). The probe collects the batch postings
    // ONCE and rebuilds the (broadcast) join side from the collected rows,
    // so the batch's gram→minhash→band pipeline is never evaluated twice.
    //
    // Size-aware (the standardizedAnomalyAuto decision style, measured:
    // at the MB-scale gate store the probe's extra driver round-trip
    // DOUBLED q_dedup_index's median, while the scan it prunes costs
    // nothing — so below `minStoreBytes` the original single-job plan
    // wins; past it the probe is noise and the pruning is the point):
    //  - store under the threshold → lazy postings frame, full scan;
    //  - batch past the postings cap → same fallback (an unwieldy IN
    //    filter has no selectivity; bulk re-dedup wants the scan anyway).
    val maxPushdownPostings = 8192
    val storeBytes = cachedByMtime(
      storeSizeCache, dir, dirMtime(spark, s"$dir/bands")) {
        val bp = new org.apache.hadoop.fs.Path(s"$dir/bands")
        val fs = bp.getFileSystem(spark.sparkContext.hadoopConfiguration)
        try fs.getContentSummary(bp).getLength catch { case _: Exception => 0L }
      }
    val ixBands0 = readStore(spark, s"$dir/bands")
    val (qBands, ixBands) =
      if (storeBytes < pushdownMinStoreBytes) (qBandsLazy, ixBands0)
      else {
        val probe = qBandsLazy.limit(maxPushdownPostings + 1).collect()
        if (probe.length <= maxPushdownPostings) {
          val local = spark.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(probe: _*)),
            qBandsLazy.schema)
          val buckets = probe.map(_.getAs[Any]("bucket")).distinct.toSeq
          (local, ixBands0.where(col("bucket").isInCollection(buckets)))
        } else (qBandsLazy, ixBands0)
      }
    // batch ≪ corpus: broadcast the batch postings — the persisted bands
    // scan stays shuffle-free, candidates are the only corpus rows moving
    val cands0 = ixBands
      .join(broadcast(qBands), Seq("band", "bucket"))
      .select(col("query_id"), col("id").as("index_id"))
      .distinct()
    val cands1 = excludeIndexIds.fold(cands0)(ex =>
      cands0.join(broadcast(ex.select(col("index_id")).distinct()),
        Seq("index_id"), "left_anti"))
    // deleted documents ([[delete]]) stop matching immediately: the
    // candidate set is anti-joined against the tombstones (small —
    // compaction keeps them bounded), their physical postings stay until
    // the next [[compact]]
    val cands = AtomicStore.tombstonesOpt(spark, dir).fold(cands1)(tb =>
      cands1.join(broadcast(tb.select(col("id").as("index_id"))),
        Seq("index_id"), "left_anti"))
    val ixGrams = readStore(spark, s"$dir/grams")
      .select(col("id").as("index_id"), col("gs").as("gs2"))
    val verified = cands
      .join(broadcast(grams.select(col("query_id"), col("gs").as("gs1"))),
        Seq("query_id"))
      .join(ixGrams, Seq("index_id"))
      .withColumn("inter", size(array_intersect(col("gs1"), col("gs2"))))
      .withColumn("jaccard", col("inter").cast("double")
        / (size(col("gs1")) + size(col("gs2")) - col("inter")))
      .where(col("jaccard") >= threshold)
      .select(col("query_id"), col("index_id"), col("jaccard"))
    if (excludeSelf) verified.where(col("query_id") =!= col("index_id"))
    else verified
  }

  /** The batch rows with NO near-dup already in the index — the survivors
    * an ingestion pipeline appends and keeps. (Intra-batch duplicates are
    * the caller's self-dedup pass — [[Dedup.minhashDedup]] on the batch.)
    */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
                 path: String, threshold: Double = 0.5): DataFrame = {
    val dupIds = query(batch, idCol, textCol, path, threshold)
      .select(col("query_id").as(idCol)).distinct()
    batch.join(dupIds, Seq(idCol), "left_anti")
  }

  /** The LIVE ingestion loop: every arriving micro-batch is deduped
    * against the store, survivors are APPENDED (so the next micro-batch
    * sees them) and recorded under `survivorsPath/b<batchId>` — the
    * greedy keep-first semantics a 100 TB corpus accretes under, as a
    * Structured Streaming sink.
    *
    * IDEMPOTENT under at-least-once replay, by construction rather than
    * by marker files:
    *  - the dedup EXCLUDES the batch's own ids on the index side, so a
    *    replay whose earlier attempt already appended this batch computes
    *    the SAME survivor set (without this, two intra-batch near-dups
    *    that both survived would eliminate each other on replay);
    *  - the store append and the survivor record both write to
    *    batch-tagged subdirectories with mode=overwrite, so a re-run
    *    replaces its own output instead of doubling rows.
    * Survivors are still materialized (persist + count) before the
    * append — their plan reads the store the append mutates.
    *
    * Caller owns trigger/checkpoint via the returned writer; read results
    * with `spark.read.option("recursiveFileLookup", "true")
    * .parquet(survivorsPath)`. Batch order is owner-defined (greedy over
    * arrival — q_stream_ingest pins 4 deterministic batches against a
    * 4-stage unrolled SQL oracle).
    */
  def ingestStream(batches: DataFrame, idCol: String, textCol: String,
                   path: String, survivorsPath: String,
                   threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    batches.writeStream.foreachBatch {
      (df: DataFrame, batchId: Long) =>
        // the batch holds the store's mutation lease end to end (dedup
        // read → append → survivor record): a concurrent delete/compact
        // REJECTS instead of racing the batch's write/checkpoint window
        AtomicStore.withMutationLease(df.sparkSession, path,
            owner = s"DedupIndex.ingestStream:b$batchId") {
          val own = df.select(col(idCol).as("index_id"))
          val dupIds = queryExcluding(df, idCol, textCol, path, threshold,
              excludeSelf = true, excludeIndexIds = Some(own))
            .select(col("query_id").as(idCol)).distinct()
          val surv = df.join(dupIds, Seq(idCol), "left_anti")
            .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            surv.count() // materialize BEFORE the store mutates
            append(surv, idCol, textCol, path, tag = s"b$batchId")
            surv.select(col(idCol))
              .write.mode("overwrite").parquet(s"$survivorsPath/b$batchId")
          } finally { surv.unpersist(); () }
        }
    }
}
