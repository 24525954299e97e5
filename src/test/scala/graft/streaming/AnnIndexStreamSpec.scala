package graft.streaming

import graft.SparkSpec
import graft.sim.{CodesStore, Similarity}
import graft.util.AtomicStore
import org.apache.spark.sql.functions._

/** The stream-maintained ANN index's EXTENSION leg — the no-refit regime
  * q_stream_ann's fixture (every batch folds via refit) does not leave
  * behind: batches accumulate in the `codes_stream` extension, serving
  * reads base ∪ extension, replay rewrites its own partitions, and the
  * drift signal sees the streamed growth. (The refit leg, restart, and
  * the highwater replay guard are pinned by the q_stream_ann driver
  * fixture and its oracle.)
  */
class AnnIndexStreamSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  private def stage(src: java.nio.file.Path, i: Int): Unit = {
    val lo = 40L + i * 10; val hi = lo + 10
    val scratch = graft.util.Tmp.root("ann_stage")
    emb.where(col("vec_id") >= lo && col("vec_id") < hi)
      .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
    val part = scratch.toFile.listFiles()
      .filter(_.getName.endsWith(".parquet")).head.toPath
    java.nio.file.Files.createLink(src.resolve(s"f$i.parquet"), part)
  }

  /** The store calls the codec-generic tests below make, per codec. The
    * IVF-PQ entry keeps the tests' original names; the SQ×IVF entry runs
    * the same steps and assertions on the int8 store (`id` tombstones).
    */
  private case class Store(
      suffix: String,
      streamDriver: String,
      idCol: String,
      write: (org.apache.spark.sql.DataFrame, String) => Unit,
      appendStream: (org.apache.spark.sql.DataFrame, String, Long) => Boolean,
      delete: (org.apache.spark.sql.DataFrame, String) => Unit,
      compact: String => Unit,
      fold: String => Boolean,
      refit: (org.apache.spark.sql.DataFrame, String, Option[Long]) => Boolean,
      codes: String => org.apache.spark.sql.DataFrame,
      serve: (String, org.apache.spark.sql.DataFrame) => org.apache.spark.sql.DataFrame)

  private val stores = Seq(
    Store("", "annIndexStream", "cid",
      (df, d) => Similarity.writeIvfPqIndex(df, "vec_id", "embedding", d,
        dim = 64, nlist = 8, m = 8, codebookSize = 16),
      (df, d, b) => Similarity.appendStreamBatch(df, "vec_id", "embedding", d, b),
      (ids, d) => Similarity.deleteFromIvfPqIndex(ids, "vec_id", d),
      d => Similarity.compactIvfPqIndex(spark, d),
      d => Similarity.compactIvfPqStreamExtension(spark, d),
      (df, d, hw) => Similarity.refitIvfPqIndex(df, "vec_id", "embedding", d,
        threshold = 0.0, streamHighwater = hw),
      d => Similarity.openIvfPqIndex(spark.newSession(), d).codes,
      (d, q) => Similarity.ivfPqServe(Similarity.openIvfPqIndex(
        spark.newSession(), d), q, "vec_id", "embedding", k = 3, nprobe = 4)),
    Store(" (SQ×IVF)", "sqIvfIndexStream", "id",
      (df, d) => Similarity.writeSqIvfIndex(df, "vec_id", "embedding", d,
        dim = 64, nlist = 8),
      (df, d, b) => Similarity.appendSqIvfStreamBatch(df, "vec_id", "embedding", d, b),
      (ids, d) => Similarity.deleteFromSqIvfIndex(ids, "vec_id", d),
      d => Similarity.compactSqIvfIndex(spark, d),
      d => Similarity.compactSqIvfStreamExtension(spark, d),
      (df, d, hw) => Similarity.refitSqIvfIndex(df, "vec_id", "embedding", d,
        threshold = 0.0, streamHighwater = hw),
      d => Similarity.openSqIvfIndex(spark.newSession(), d).codes,
      (d, q) => Similarity.sqIvfServeIndex(Similarity.openSqIvfIndex(
        spark.newSession(), d), q, "vec_id", "embedding", k = 3, nprobe = 4)))

  test("extension growth: streamed batches serve identically to a stored-model re-encode") {
    val d = tmpDir() + "/annstream"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    val src = graft.util.Tmp.root("ann_src")
    val ckpt = graft.util.Tmp.root("ann_ckpt").toString
    def launch() = Streams.annIndexStream(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      "vec_id", "embedding", d, ckpt,
      corpus = sess => emb, // never consulted: threshold is unreachable
      driftThreshold = Double.MaxValue)
    val run1 = launch()
    try {
      stage(src, 0); run1.processAllAvailable() // batch 0
      stage(src, 1); run1.processAllAvailable() // batch 1
    } finally run1.stop()
    stage(src, 2) // arrives while the query is down
    val run2 = launch() // restart from the same checkpoint
    try {
      run2.processAllAvailable()              // batch 2
      stage(src, 3); run2.processAllAvailable() // batch 3
    } finally run2.stop()
    // no refit fired: still generation 1, extension holds the 4 batches
    assert(AtomicStore.currentGen(spark, d).contains(1L))
    val gdir = AtomicStore.resolve(spark, d)
    assert(new java.io.File(s"$gdir/codes_stream").exists())
    val fresh = spark.newSession()
    val idx = Similarity.openIvfPqIndex(fresh, d)
    assert(idx.codes.count() == 80, "base 40 + 4 streamed batches of 10")
    // serve parity: base ∪ extension must equal the full corpus encoded
    // with the SAME stored model (stream append changes where codes
    // live, never what they are — the q_ivfpq_append property)
    val all = emb.where(col("vec_id") < 80)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val served = rows(Similarity.ivfPqServe(idx, all, "vec_id", "embedding",
      k = 5, nprobe = 4))
    val rebuilt = idx.copy(codes =
      Similarity.encodeForIndex(idx, all, "vec_id", "embedding"))
    assert(served == rows(Similarity.ivfPqServe(rebuilt, all, "vec_id",
      "embedding", k = 5, nprobe = 4)))
    // drift sees the streamed growth: fit-time 40, live 80
    val drift = Similarity.ivfPqCellDrift(spark, d).collect()
    assert(drift.map(_.getLong(1)).sum == 40 && drift.map(_.getLong(2)).sum == 80)
    // at-least-once replay of batch 2 (its exact rows, its exact id):
    // dynamic partition overwrite rewrites that batch's partitions —
    // counts AND contents unchanged
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 60 && col("vec_id") < 70),
      "vec_id", "embedding", d, batchId = 2L)
    val after = Similarity.openIvfPqIndex(spark.newSession(), d)
    assert(after.codes.count() == 80, "replay must not double rows")
    assert(rows(Similarity.ivfPqServe(after, all, "vec_id", "embedding",
      k = 5, nprobe = 4)) == served, "replay must not change the served answer")
  }

  test("compaction must not resurrect a tombstoned id whose rows live in the stream extension") {
    val d = tmpDir() + "/streamcompact"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    // ids 40..49 exist ONLY in codes_stream; ids < 40 only in base codes
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    // tombstone one id from EACH physical table
    Similarity.deleteFromIvfPqIndex(
      emb.where(col("vec_id").isin(7L, 45L)).select(col("vec_id")),
      "vec_id", d)
    def liveIds() = Similarity.openIvfPqIndex(spark.newSession(), d)
      .codes.select(col("cid")).collect().map(_.getLong(0)).toSet
    val masked = liveIds()
    assert(!masked.contains(7L) && !masked.contains(45L) && masked.size == 48)
    val survivors = emb.where(col("vec_id") < 50 &&
      !col("vec_id").isin(7L, 45L))
    def rows(idx: Similarity.IvfPqIndex) =
      Similarity.ivfPqServe(idx, survivors, "vec_id", "embedding",
        k = 5, nprobe = 4).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val before = rows(Similarity.openIvfPqIndex(spark.newSession(), d))
    // compaction folds the tombstones into BOTH tables and drops them —
    // the stream-extension rows must be rewritten too, or dropping the
    // anti-join mask resurrects id 45 (the r16 ADVICE finding)
    Similarity.compactIvfPqIndex(spark, d)
    val gdir = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$gdir/tombstones").exists())
    val after = liveIds()
    assert(!after.contains(45L),
      "tombstoned stream-extension id resurrected by compaction")
    assert(!after.contains(7L), "tombstoned base id resurrected by compaction")
    assert(after == masked, "compaction changed the live id set")
    assert(rows(Similarity.openIvfPqIndex(spark.newSession(), d)) == before,
      "serving before and after compaction must be bit-identical")
    // the AUTOMATIC path: a colliding stream batch (re-adding id 45)
    // triggers the same compaction first, so delete→re-add is an upsert
    Similarity.deleteFromIvfPqIndex(
      emb.where(col("vec_id") === 45L).select(col("vec_id")), "vec_id", d)
    Similarity.appendStreamBatch(emb.where(col("vec_id") === 45L),
      "vec_id", "embedding", d, batchId = 1L)
    val readded = Similarity.openIvfPqIndex(spark.newSession(), d)
      .codes.where(col("cid") === 45L).count()
    assert(readded == 1L, s"delete→re-add must serve exactly one row, got $readded")
  }

  for (st <- stores)
    test("compacting away an ENTIRE stream batch leaves a readable store " +
      "(no schema-inference brick)" + st.suffix) {
      val d = tmpDir() + "/alldead"
      st.write(emb.where(col("vec_id") < 40), d)
      st.appendStream(emb.where(col("vec_id") >= 40 && col("vec_id") < 50), d, 0L)
      // tombstone EVERY streamed id, compact via the semi-join fallback leg
      // (threshold forced to 1 so the bounded-predicate path is exercised)
      st.delete(emb.where(col("vec_id") >= 40 && col("vec_id") < 50)
        .select(col("vec_id")), d)
      val saved = CodesStore.CompactPredicateMaxTerms
      CodesStore.CompactPredicateMaxTerms = 1
      try st.compact(d)
      finally CodesStore.CompactPredicateMaxTerms = saved
      // every codes_stream partition died: the store must still OPEN and
      // serve (explicit-schema extension read — a data-free directory is
      // an empty frame, not an AnalysisException)
      assert(st.codes(d).count() == 40)
      assert(st.serve(d, emb.where(col("vec_id") < 5)).count() > 0)
      // the growth/fold paths are equally unbricked: folding a data-free
      // extension is a no-op that removes the empty directory
      assert(!st.fold(d))
      val gdir = AtomicStore.resolve(spark, d)
      assert(!new java.io.File(s"$gdir/codes_stream").exists(),
        "the fold removes a data-free extension directory")
      assert(st.codes(d).count() == 40)
    }

  test("stream-extension compaction: folded layout serves identically, raises the highwater, survives a kill") {
    val d = tmpDir() + "/streamfold"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    Similarity.deleteFromIvfPqIndex(
      emb.where(col("vec_id") === 55L).select(col("vec_id")), "vec_id", d)
    val probe = emb.where(col("vec_id") < 60 && col("vec_id") =!= 55L)
    def serve() = {
      val idx = Similarity.openIvfPqIndex(spark.newSession(), d)
      Similarity.ivfPqServe(idx, probe, "vec_id", "embedding", k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    }
    val before = serve()
    val drift0 = Similarity.ivfPqCellDrift(spark, d).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2))).toSet
    val gBefore = AtomicStore.resolve(spark, d)
    // a killed compaction is invisible (readers stay on the old gen)
    AtomicStore.failpoint =
      l => if (l == "ivfpq:codes") throw new RuntimeException("killed at ivfpq:codes")
    try intercept[RuntimeException] {
      Similarity.compactIvfPqStreamExtension(spark, d)
    } finally AtomicStore.failpoint = _ => ()
    assert(AtomicStore.resolve(spark, d) == gBefore)
    assert(serve() == before)
    // the real fold: fresh generation, no extension, same answers
    assert(Similarity.compactIvfPqStreamExtension(spark, d))
    val gAfter = AtomicStore.resolve(spark, d)
    assert(gAfter != gBefore)
    assert(!new java.io.File(s"$gAfter/codes_stream").exists())
    assert(spark.read.parquet(s"$gAfter/codes").count() == 59,
      "40 base + 20 streamed - 1 tombstoned")
    assert(serve() == before, "folding must not change the served answer")
    // drift baseline preserved: cellstats is still the FIT's snapshot
    assert(Similarity.ivfPqCellDrift(spark, d).collect()
      .map(r => (String.valueOf(r.get(0)), r.getLong(1), r.getLong(2))).toSet == drift0)
    // replay of a folded batch is absorbed by the raised highwater
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    assert(!new java.io.File(s"$gAfter/codes_stream").exists(),
      "replay below the folded highwater must be skipped")
    // nothing to fold on a fold-free store
    assert(!Similarity.compactIvfPqStreamExtension(spark, d))
  }

  test("fold carries a non-job-committed (sentinel-less) last batch instead " +
    "of folding its partial rows and absorbing the replay") {
    val d = tmpDir() + "/streamcarry"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    // stage batch 2's crash shape: data files landed (a kill inside the
    // committer's file-move loop leaves PARTIAL ones), sentinel never
    // written — the append crashed before job completion
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 60 && col("vec_id") < 70),
      "vec_id", "embedding", d, batchId = 2L)
    val g0 = AtomicStore.resolve(spark, d)
    val sentinel2 = new java.io.File(s"$g0/codes_stream/_complete_b2")
    assert(sentinel2.exists(), "appends must write their sentinel")
    sentinel2.delete()
    // drop one of batch 2's cell partitions = the partial-commit shape
    val b2cells = new java.io.File(s"$g0/codes_stream/batch_id=2")
      .listFiles().filter(_.isDirectory)
    assert(b2cells.length >= 2, "fixture needs >=2 cells to stage a partial")
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete(); ()
    }
    rmTree(b2cells.head)
    // the fold must not merge batch 2's partial rows into base, must not
    // raise the highwater over it, and must CARRY its rows for the replay
    assert(Similarity.compactIvfPqStreamExtension(spark, d))
    val g1 = AtomicStore.resolve(spark, d)
    assert(spark.read.parquet(s"$g1/codes").count() == 60,
      "base 40 + the two complete batches only")
    val carried = new java.io.File(s"$g1/codes_stream")
    assert(carried.exists(), "partial batch carried into the new extension")
    assert(new java.io.File(carried, "_sentinels_enabled").exists(),
      "carried extension must keep the sentinel convention visible")
    // the replay is NOT absorbed: it rewrites batch 2's partitions whole
    val dropped = Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 60 && col("vec_id") < 70),
      "vec_id", "embedding", d, batchId = 2L)
    assert(!dropped)
    val fresh = spark.newSession()
    assert(Similarity.openIvfPqIndex(fresh, d).codes.count() == 70,
      "replayed batch fully visible after the carry")
    // a second fold (replay now sentineled) folds everything
    assert(Similarity.compactIvfPqStreamExtension(spark, d))
    val g2 = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$g2/codes_stream").exists())
    assert(spark.read.parquet(s"$g2/codes").count() == 70)
    // and the twice-folded store serves identically to a one-shot fit of
    // the same corpus with the same stored model lineage
    val probe = emb.where(col("vec_id") < 70)
    val idx = Similarity.openIvfPqIndex(spark.newSession(), d)
    val served = Similarity.ivfPqServe(idx, probe, "vec_id", "embedding",
      k = 5, nprobe = 4).count()
    assert(served > 0)
  }

  test("annIndexStream with foldEveryBatches self-maintains the layout") {
    val d = tmpDir() + "/annselffold"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    val src = graft.util.Tmp.root("ann_fold_src")
    val ckpt = graft.util.Tmp.root("ann_fold_ckpt").toString
    val q = Streams.annIndexStream(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      "vec_id", "embedding", d, ckpt,
      corpus = _ => emb, driftThreshold = Double.MaxValue,
      foldEveryBatches = 2)
    try {
      (0 until 4).foreach { i => stage(src, i); q.processAllAvailable() }
    } finally q.stop()
    val g = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$g/codes_stream").exists(),
      "fold-every-2 must leave no extension after batch 3")
    assert(spark.read.parquet(s"$g/codes").count() == 80)
    // serve parity vs the same stored model re-encoding the full corpus
    val all = emb.where(col("vec_id") < 80)
    val idx = Similarity.openIvfPqIndex(spark.newSession(), d)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val served = rows(Similarity.ivfPqServe(idx, all, "vec_id", "embedding",
      k = 5, nprobe = 4))
    val rebuilt = idx.copy(codes =
      Similarity.encodeForIndex(idx, all, "vec_id", "embedding"))
    assert(served == rows(Similarity.ivfPqServe(rebuilt, all, "vec_id",
      "embedding", k = 5, nprobe = 4)))
    // the fit-time drift baseline survived both folds: n_fit still 40
    val drift = Similarity.ivfPqCellDrift(spark, d).collect()
    assert(drift.map(_.getLong(1)).sum == 40 && drift.map(_.getLong(2)).sum == 80)
    // replay of the last folded batch is absorbed by the fold highwater
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 70 && col("vec_id") < 80),
      "vec_id", "embedding", d, batchId = 3L)
    assert(!new java.io.File(s"$g/codes_stream").exists())
  }

  test("DEFAULT fold trigger keys on observed extension fan-out, with no " +
    "configuration (fragmentation-keyed, not batch-counted)") {
    val d = tmpDir() + "/annfragfold"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    val src = graft.util.Tmp.root("ann_frag_src")
    val ckpt = graft.util.Tmp.root("ann_frag_ckpt").toString
    // defaults everywhere except the dir budget (64 would need 64 tiny
    // batches — the TRIGGER SHAPE is what's under test): no
    // foldEveryBatches, drift unreachable, budget 3 → the probe sees
    // 3 batch_id dirs after batch 2 and folds, again after batch 5 …
    val q = Streams.annIndexStream(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      "vec_id", "embedding", d, ckpt,
      corpus = _ => emb, driftThreshold = Double.MaxValue,
      foldMaxExtDirs = 3)
    try {
      (0 until 4).foreach { i => stage(src, i); q.processAllAvailable() }
    } finally q.stop()
    val g = AtomicStore.resolve(spark, d)
    // batches 0..2 folded when the count hit 3; batch 3 sits alone in the
    // extension — fan-out stays bounded by the budget without any cadence
    // configuration
    assert(Similarity.streamExtensionDirCount(spark, d) <= 1,
      "extension fan-out must stay under the budget")
    val idx = Similarity.openIvfPqIndex(spark.newSession(), d)
    assert(idx.codes.count() == 80)
    // and the default budget is ON (the default-off regression guard)
    assert(Streams.DefaultFoldMaxExtDirs > 0)
    // serve parity with the stored-model re-encode (layout-only change)
    val all = emb.where(col("vec_id") < 80)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    val rebuilt = idx.copy(codes =
      Similarity.encodeForIndex(idx, all, "vec_id", "embedding"))
    assert(rows(Similarity.ivfPqServe(idx, all, "vec_id", "embedding",
      k = 5, nprobe = 4)) ==
      rows(Similarity.ivfPqServe(rebuilt, all, "vec_id", "embedding",
        k = 5, nprobe = 4)))
    assert(!new java.io.File(s"$g/_mutation_lease").exists(),
      "the stream must release the mutation lease between batches")
  }

  test("fresh-checkpoint highwater gap is DETECTED machine-readably, not " +
    "just logged (skipped-batch ledger)") {
    val d = tmpDir() + "/annskip"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8, codebookSize = 16)
    // stream refit folds batch 5 → highwater 5
    assert(Similarity.refitIvfPqIndex(emb.where(col("vec_id") < 50),
      "vec_id", "embedding", d, threshold = 0.0, streamHighwater = Some(5L)))
    assert(Similarity.skippedStreamBatches(spark, d).isEmpty)
    // a legitimate at-least-once replay of the folded batch (id at the
    // highwater): absorbed silently, NOT a data-loss record
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 5L)
    assert(Similarity.skippedStreamBatches(spark, d).isEmpty,
      "gap <= 1 is replay absorption, not data loss")
    // the stream restarts with a FRESH checkpoint: ids reset to 0 — the
    // batch is dropped AND the drop is queryable
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 0L)
    val skipped = Similarity.skippedStreamBatches(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(skipped == Set((0L, 5L)), s"got $skipped")
    // the record is idempotent under the replay of the skip itself, and
    // survives a refit (it lives at the store root, not the generation)
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 0L)
    assert(Similarity.refitIvfPqIndex(emb.where(col("vec_id") < 50),
      "vec_id", "embedding", d, threshold = 0.0, streamHighwater = Some(6L)))
    assert(Similarity.skippedStreamBatches(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((0L, 5L)))
    // the SQ twin records through the same ledger
    val d2 = tmpDir() + "/sqskip"
    Similarity.writeSqIvfIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d2, dim = 64, nlist = 8,
      streamHighwater = Some(7L))
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d2, batchId = 1L)
    assert(Similarity.skippedStreamBatches(spark, d2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((1L, 7L)))
  }

  test("the skip ledger is BOUNDED: past the cap, drops collapse into " +
    "one overwritten overflow record instead of unbounded marker files") {
    val d = tmpDir() + "/skipcap"
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, streamHighwater = Some(1000L))
    // pre-fill the ledger past the cap (a misconfigured fresh-checkpoint
    // stream that dropped for hours)
    val ledger = new java.io.File(s"$d/_skipped_batches")
    ledger.mkdirs()
    (100 to 700).foreach { i =>
      new java.io.File(ledger, s"b${i}_hw1000").createNewFile()
    }
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    assert(!new java.io.File(ledger, "b0_hw1000").exists(),
      "past the cap no new per-batch marker may be created")
    assert(new java.io.File(ledger, "overflow").exists())
    // a later drop OVERWRITES the overflow record (latest drop wins)
    Similarity.appendStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 3L)
    val rows = Similarity.skippedStreamBatches(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(rows.contains((3L, 1000L)), "overflow surfaces the latest drop")
    assert(!rows.contains((0L, 1000L)), "superseded overflow is replaced")
    assert(rows.size == 602, "601 itemized markers + the overflow row")
    // raw java.io count, excluding the local ChecksumFileSystem's .crc
    // sidecars that fs.listStatus hides
    assert(ledger.listFiles().count(!_.getName.endsWith(".crc")) == 602,
      "file count stays bounded while drops continue")
  }

  test("failOnSkippedBatch: a fresh-checkpoint restart TERMINATES the " +
    "stream instead of silently dropping batches (opt-in)") {
    val d = tmpDir() + "/annfailskip"
    // a store whose fit already folded batch 9 — a NEW stream against it
    // restarts ids at 0, the exact silent-data-loss trap
    Similarity.writeIvfPqIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8, m = 8,
      codebookSize = 16, streamHighwater = Some(9L))
    val src = graft.util.Tmp.root("ann_failskip_src")
    val ckpt = graft.util.Tmp.root("ann_failskip_ckpt").toString
    val q = Streams.annIndexStream(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      "vec_id", "embedding", d, ckpt,
      corpus = _ => emb, driftThreshold = Double.MaxValue,
      failOnSkippedBatch = true)
    try {
      stage(src, 0)
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def chain(t: Throwable): Seq[String] =
        if (t == null) Nil else t.getMessage +: chain(t.getCause)
      assert(chain(e).exists(m => m != null && m.contains("DROPPED")),
        s"must terminate on the drop, got: ${chain(e)}")
    } finally q.stop()
    // the drop is still in the machine-readable ledger
    assert(Similarity.skippedStreamBatches(spark, d)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      == Set((0L, 9L)))
    // …and the lease was released despite the batch failing
    assert(!new java.io.File(s"$d/_mutation_lease").exists())
  }

  for (st <- stores)
    test("a delete racing a live stream batch REJECTS on the mutation lease; " +
      "between batches it succeeds (single-writer contract, enforced)" +
      st.suffix) {
      val d = tmpDir() + "/annlease"
      st.write(emb.where(col("vec_id") < 40), d)
      // simulate the stream batch's hold: the drivers wrap each batch in
      // withMutationLease (same code path), paused mid-batch here
      val holderName = s"${st.streamDriver}:b7"
      val inBatch = new java.util.concurrent.CountDownLatch(1)
      val finishBatch = new java.util.concurrent.CountDownLatch(1)
      val holder = new Thread(() =>
        graft.util.AtomicStore.withMutationLease(spark, d, owner = holderName) {
          inBatch.countDown()
          finishBatch.await()
        })
      holder.start()
      inBatch.await()
      try {
        val e = intercept[IllegalStateException] {
          st.delete(emb.where(col("vec_id") === 3).select(col("vec_id")), d)
        }
        assert(e.getMessage.contains(holderName),
          s"rejection must name the holder, got: ${e.getMessage}")
        // compactions and folds reject the same way
        intercept[IllegalStateException] { st.compact(d) }
        intercept[IllegalStateException] { st.fold(d) }
      } finally { finishBatch.countDown(); holder.join() }
      // the batch released the lease: the takedown proceeds normally
      st.delete(emb.where(col("vec_id") === 3).select(col("vec_id")), d)
      assert(st.codes(d).where(col(st.idCol) === 3L).count() == 0)
      assert(!new java.io.File(s"$d/_mutation_lease").exists(),
        "mutations release the lease on completion")
      // a crashed holder's stale lease is broken after the grace
      val leaseFile = new java.io.File(s"$d/_mutation_lease")
      java.nio.file.Files.writeString(leaseFile.toPath, "crashed:deadbeef")
      assert(leaseFile.setLastModified(
        System.currentTimeMillis() - 2 * graft.util.AtomicStore.DefaultLeaseGraceMs))
      st.delete(emb.where(col("vec_id") === 4).select(col("vec_id")), d)
      assert(!leaseFile.exists(), "stale lease broken and released")
    }

  for (st <- stores)
    test("a second open of a generation reads no model table (the model " +
      "is cached per generation directory)" + st.suffix) {
      val d = tmpDir() + "/opencache"
      st.write(emb.where(col("vec_id") < 40), d)
      assert(st.codes(d).count() == 40)
      // a reopen that reloaded the model would fail on the removed tables
      val gdir = AtomicStore.resolve(spark, d)
      Seq("meta", "centroids", "codebooks").foreach(t =>
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$gdir/$t")))
      assert(st.codes(d).count() == 40)
    }

  for (st <- stores)
    test("a crashed stream refit's highwater is not inherited by a later " +
      "non-stream fit" + st.suffix) {
      val d = tmpDir() + "/hwinherit"
      st.write(emb.where(col("vec_id") < 40), d)
      // stream refit that crashes at the commit point, AFTER its highwater
      // file landed in the (now abandoned) generation directory
      AtomicStore.failpoint =
        l => if (l == "commit") throw new RuntimeException("killed at commit")
      try intercept[RuntimeException] {
        st.refit(emb.where(col("vec_id") < 50), d, Some(9L))
      } finally AtomicStore.failpoint = _ => ()
      // a plain (non-stream) refit reuses the abandoned generation id — it
      // must scrub the stale watermark, or every future stream append with
      // batchId <= 9 would be silently skipped
      st.write(emb.where(col("vec_id") < 50), d)
      st.appendStream(emb.where(col("vec_id") >= 50 && col("vec_id") < 60), d, 0L)
      assert(st.codes(d).count() == 60,
        "append after the clean fit must not be skipped by a stale highwater")
    }
}
