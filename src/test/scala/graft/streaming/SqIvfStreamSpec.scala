package graft.streaming

import graft.SparkSpec
import graft.sim.Similarity
import graft.util.AtomicStore
import org.apache.spark.sql.functions._

/** The stream-maintained SQ×IVF index's EXTENSION leg — the no-refit
  * regime q_stream_sq_ivf's fixture (every batch folds via refit) does
  * not leave behind: batches accumulate in `codes_stream`, serving reads
  * base ∪ extension, replay rewrites its own partitions, and the growth
  * signal sees the streamed share. (The refit leg, restart, and the
  * highwater replay guard are pinned by the q_stream_sq_ivf driver
  * fixture and its full-derivation oracle.)
  */
class SqIvfStreamSpec extends SparkSpec {

  private lazy val emb =
    spark.read.parquet(s"$sfDir/embeddings.parquet").cache()

  test("extension growth: streamed batches serve identically to a stored-model re-encode") {
    val d = tmpDir() + "/sqstream"
    Similarity.writeSqIvfIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8)
    // two streamed batches land in the extension (no refit — threshold
    // unreachable, driven via the append directly)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    assert(AtomicStore.currentGen(spark, d).contains(1L))
    val gdir = AtomicStore.resolve(spark, d)
    assert(new java.io.File(s"$gdir/codes_stream").exists())
    val fresh = spark.newSession()
    val idx = Similarity.openSqIvfIndex(fresh, d)
    assert(idx.codes.count() == 60, "base 40 + 2 streamed batches of 10")
    // serve parity: base ∪ extension must equal the full corpus encoded
    // with the SAME stored centroids (int8 scores are exact integers, so
    // parity is value-for-value)
    val all = emb.where(col("vec_id") < 60)
    def rows(codes: org.apache.spark.sql.DataFrame) = Similarity
      .sqIvfServe(codes, all, "vec_id", "embedding", k = 5, idx.cents,
        nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val served = rows(idx.codes)
    assert(served ==
      rows(Similarity.sqIvfEncode(all, "vec_id", "embedding", idx.cents)))
    // growth sees the streamed share: 20 streamed over 40 fitted
    assert(math.abs(Similarity.sqIvfStreamGrowth(spark, d) - 0.5) < 1e-9)
    // at-least-once replay of batch 1 (same rows, same id): dynamic
    // partition overwrite rewrites that batch's partitions — counts AND
    // served answers unchanged
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    val after = Similarity.openSqIvfIndex(spark.newSession(), d)
    assert(after.codes.count() == 60, "replay must not double rows")
    assert(rows(after.codes) == served, "replay must not change answers")
    // growth-triggered refit folds the extension into a fresh generation
    assert(Similarity.refitSqIvfIndex(all, "vec_id", "embedding", d,
      threshold = 0.4, streamHighwater = Some(1L)), "refit must trigger at 0.5 growth")
    assert(!Similarity.refitSqIvfIndex(all, "vec_id", "embedding", d,
      threshold = 0.4), "refit must be a no-op right after a refit")
    val g2 = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$g2/codes_stream").exists(),
      "a refit generation starts with no extension")
    assert(spark.read.parquet(s"$g2/codes").count() == 60)
    // the refit's highwater absorbs a replay of the folded batch
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    assert(!new java.io.File(s"$g2/codes_stream").exists(),
      "replay below the highwater must be skipped")
  }

  test("stream-extension fold: folded layout serves identically and raises the highwater") {
    val d = tmpDir() + "/sqfold"
    Similarity.writeSqIvfIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    val all = emb.where(col("vec_id") < 60)
    def serve() = {
      val idx = Similarity.openSqIvfIndex(spark.newSession(), d)
      Similarity.sqIvfServeIndex(idx, all, "vec_id", "embedding",
          k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val before = serve()
    val gBefore = AtomicStore.resolve(spark, d)
    // a killed fold is invisible
    AtomicStore.failpoint =
      l => if (l == "sqivf:codes") throw new RuntimeException("killed at sqivf:codes")
    try intercept[RuntimeException] {
      Similarity.compactSqIvfStreamExtension(spark, d)
    } finally AtomicStore.failpoint = _ => ()
    assert(AtomicStore.resolve(spark, d) == gBefore)
    assert(serve() == before)
    // the real fold
    assert(Similarity.compactSqIvfStreamExtension(spark, d))
    val gAfter = AtomicStore.resolve(spark, d)
    assert(gAfter != gBefore)
    assert(!new java.io.File(s"$gAfter/codes_stream").exists())
    assert(spark.read.parquet(s"$gAfter/codes").count() == 60)
    assert(serve() == before, "folding must not change the served answer")
    // replay of a folded batch is absorbed by the raised highwater
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    assert(!new java.io.File(s"$gAfter/codes_stream").exists())
    // nothing to fold on a fold-free store
    assert(!Similarity.compactSqIvfStreamExtension(spark, d))
  }

  test("delete masks immediately, compact reclaims, delete→re-add upserts " +
    "(the IVF-PQ takedown arc on the int8 store)") {
    val d = tmpDir() + "/sqdel"
    val corpus = emb.where(col("vec_id") < 50)
    Similarity.writeSqIvfIndex(corpus, "vec_id", "embedding", d,
      dim = 64, nlist = 8)
    val survivors = corpus.where(col("vec_id") % 7 =!= 3)
    def serve() = {
      val idx = Similarity.openSqIvfIndex(spark.newSession(), d)
      Similarity.sqIvfServeIndex(idx, survivors, "vec_id", "embedding",
          k = 5, nprobe = 4)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    Similarity.deleteFromSqIvfIndex(
      corpus.where(col("vec_id") % 7 === 3).select(col("vec_id")),
      "vec_id", d)
    val masked = serve()
    // live view == codes re-encoded from the survivors with the stored
    // model (integer scores — value-for-value)
    val idx = Similarity.openSqIvfIndex(spark.newSession(), d)
    assert(idx.codes.count() == 43, "7 of 50 masked")
    val direct = Similarity.sqIvfServe(
        Similarity.sqIvfEncode(survivors, "vec_id", "embedding", idx.cents),
        survivors, "vec_id", "embedding", k = 5, idx.cents, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(masked == direct, "mask must equal survivor re-encode")
    // no deleted id can appear as a neighbor
    assert(!masked.exists(_._2 % 7 == 3))
    // compaction reclaims the rows and never changes answers
    val gBefore = AtomicStore.resolve(spark, d)
    Similarity.compactSqIvfIndex(spark, d)
    assert(!new java.io.File(s"$gBefore/tombstones").exists())
    assert(spark.read.parquet(s"$gBefore/codes").count() == 43)
    assert(serve() == masked, "compaction must not change answers")
    // delete→re-add: the colliding append auto-compacts, the new row
    // serves (no resurrection ambiguity, no stale emptiness)
    Similarity.deleteFromSqIvfIndex(
      corpus.where(col("vec_id") === 0).select(col("vec_id")), "vec_id", d)
    Similarity.appendToSqIvfIndex(corpus.where(col("vec_id") === 0),
      "vec_id", "embedding", d)
    val idx2 = Similarity.openSqIvfIndex(spark.newSession(), d)
    assert(idx2.codes.where(col("id") === 0L).count() == 1,
      "re-added id serves exactly once")
    assert(!new java.io.File(s"$gBefore/tombstones").exists(),
      "collision append folded the tombstones")
  }

  test("delete of a STREAMED row: mask, stream-extension fold (delete-" +
    "then-fold), and a fully-deleted batch leaves a readable store") {
    val d = tmpDir() + "/sqdelstream"
    Similarity.writeSqIvfIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    // delete ids living ONLY in the extension
    Similarity.deleteFromSqIvfIndex(
      emb.where(col("vec_id") >= 45 && col("vec_id") < 50)
        .select(col("vec_id")), "vec_id", d)
    def liveIds() = Similarity.openSqIvfIndex(spark.newSession(), d)
      .codes.select("id").collect().map(_.getLong(0)).toSet
    val expect = ((0L until 45L) ++ (50L until 60L)).toSet
    assert(liveIds() == expect, "streamed rows masked immediately")
    // delete-then-fold: the fold must NOT resurrect the masked rows —
    // tombstones fold into BOTH tables before the merge
    assert(Similarity.compactSqIvfStreamExtension(spark, d))
    val g = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$g/codes_stream").exists())
    assert(!new java.io.File(s"$g/tombstones").exists())
    assert(liveIds() == expect, "fold must not resurrect deleted rows")
    assert(spark.read.parquet(s"$g/codes").count() == 55)
    // now delete an ENTIRE streamed batch and compact twice: the second
    // pass must read the data-free extension without schema inference
    // (the explicit-schema extension read, pinned on the SQ store too)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 60 && col("vec_id") < 70),
      "vec_id", "embedding", d, batchId = 2L)
    Similarity.deleteFromSqIvfIndex(
      emb.where(col("vec_id") >= 60 && col("vec_id") < 70)
        .select(col("vec_id")), "vec_id", d)
    Similarity.compactSqIvfIndex(spark, d)
    Similarity.deleteFromSqIvfIndex(
      emb.where(col("vec_id") === 0).select(col("vec_id")), "vec_id", d)
    Similarity.compactSqIvfIndex(spark, d) // second pass: ext dir empty
    assert(liveIds() == expect - 0L)
  }

  test("crashed-delete remnants and a 100%-tombstoned compaction cannot " +
    "brick the store") {
    val d = tmpDir() + "/sqbrick"
    val corpus = emb.where(col("vec_id") < 20)
    Similarity.writeSqIvfIndex(corpus, "vec_id", "embedding", d,
      dim = 64, nlist = 8)
    val g = AtomicStore.resolve(spark, d)
    // a delete killed mid-write leaves tombstones/ with only _temporary/:
    // must read as "no tombstones", not fail schema inference
    assert(new java.io.File(s"$g/tombstones/_temporary").mkdirs())
    assert(Similarity.openSqIvfIndex(spark.newSession(), d)
      .codes.count() == 20, "remnant dir must not mask or brick")
    Similarity.appendToSqIvfIndex(
      emb.where(col("vec_id") >= 20 && col("vec_id") < 25),
      "vec_id", "embedding", d)
    // now tombstone EVERYTHING: the mask serves zero rows immediately,
    // but physically reclaiming the last data file would make the base
    // codes unreadable (schema lives in its files) — compact REFUSES
    // loudly and the store stays openable, mask intact
    Similarity.deleteFromSqIvfIndex(
      emb.where(col("vec_id") < 25).select(col("vec_id")), "vec_id", d)
    assert(Similarity.openSqIvfIndex(spark.newSession(), d)
      .codes.count() == 0, "fully-masked store serves nothing")
    val e = intercept[IllegalStateException] {
      Similarity.compactSqIvfIndex(spark, d)
    }
    assert(e.getMessage.contains("LAST data file"), e.getMessage)
    assert(Similarity.openSqIvfIndex(spark.newSession(), d)
      .codes.count() == 0, "refused compaction leaves the mask intact")
    // a PARTIAL delete still compacts normally on the same store after a
    // refit clears the full-corpus tombstones
    Similarity.writeSqIvfIndex(corpus, "vec_id", "embedding", d,
      dim = 64, nlist = 8)
    Similarity.deleteFromSqIvfIndex(
      emb.where(col("vec_id") === 1).select(col("vec_id")), "vec_id", d)
    Similarity.compactSqIvfIndex(spark, d)
    assert(Similarity.openSqIvfIndex(spark.newSession(), d)
      .codes.count() == 19)
  }

  test("fold carries a non-job-committed (sentinel-less) last batch " +
    "instead of folding partial rows — the IVF-PQ carry contract's twin") {
    val d = tmpDir() + "/sqcarry"
    Similarity.writeSqIvfIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 40 && col("vec_id") < 50),
      "vec_id", "embedding", d, batchId = 0L)
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L)
    val g0 = AtomicStore.resolve(spark, d)
    // batch 1 "crashed": sentinel gone, one cell partition lost mid-commit
    assert(new java.io.File(s"$g0/codes_stream/_complete_b1").delete())
    val b1cells = new java.io.File(s"$g0/codes_stream/batch_id=1")
      .listFiles().filter(_.isDirectory)
    assert(b1cells.length >= 2)
    def rmTree(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rmTree); f.delete(); ()
    }
    rmTree(b1cells.head)
    assert(Similarity.compactSqIvfStreamExtension(spark, d))
    val g1 = AtomicStore.resolve(spark, d)
    assert(spark.read.parquet(s"$g1/codes").count() == 50,
      "base 40 + the complete batch 0 only")
    assert(new java.io.File(s"$g1/codes_stream/_sentinels_enabled").exists())
    // replay NOT absorbed; second fold then converges
    assert(!Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 50 && col("vec_id") < 60),
      "vec_id", "embedding", d, batchId = 1L))
    assert(Similarity.compactSqIvfStreamExtension(spark, d))
    val g2 = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$g2/codes_stream").exists())
    assert(spark.read.parquet(s"$g2/codes").count() == 60)
  }

  test("sqIvfIndexStream with foldEveryBatches self-maintains the layout") {
    val d = tmpDir() + "/sqselffold"
    Similarity.writeSqIvfIndex(emb.where(col("vec_id") < 40),
      "vec_id", "embedding", d, dim = 64, nlist = 8)
    val src = graft.util.Tmp.root("sqs_fold_src")
    val ckpt = graft.util.Tmp.root("sqs_fold_ckpt").toString
    def stage(i: Int): Unit = {
      val lo = 40L + i * 10; val hi = lo + 10
      val scratch = graft.util.Tmp.root("sqs_fold_stage")
      emb.where(col("vec_id") >= lo && col("vec_id") < hi)
        .coalesce(1).write.mode("overwrite").parquet(scratch.toString)
      val part = scratch.toFile.listFiles()
        .filter(_.getName.endsWith(".parquet")).head.toPath
      java.nio.file.Files.createLink(src.resolve(s"f$i.parquet"), part)
    }
    // growth threshold unreachable: every batch goes to the extension,
    // and the fold trigger (every 2 batches) is the only maintenance
    val q = Streams.sqIvfIndexStream(
      spark.readStream.schema(emb.schema).option("maxFilesPerTrigger", "1")
        .parquet(src.toString),
      "vec_id", "embedding", d, ckpt,
      corpus = _ => emb, growthThreshold = Double.MaxValue,
      foldEveryBatches = 2)
    try {
      (0 until 4).foreach { i => stage(i); q.processAllAvailable() }
    } finally q.stop()
    // batches 1 and 3 folded: no extension left, base holds everything,
    // still generation-advanced (2 folds), no refit ever ran (the fit
    // centroids are the original 40-vector model)
    val g = AtomicStore.resolve(spark, d)
    assert(!new java.io.File(s"$g/codes_stream").exists(),
      "fold-every-2 must leave no extension after batch 3")
    assert(spark.read.parquet(s"$g/codes").count() == 80)
    // serve parity vs the same stored model re-encoding the full corpus
    val all = emb.where(col("vec_id") < 80)
    val idx = Similarity.openSqIvfIndex(spark.newSession(), d)
    def rows(codes: org.apache.spark.sql.DataFrame) = Similarity
      .sqIvfServe(codes, all, "vec_id", "embedding", k = 5, idx.cents,
        nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(rows(idx.codes) ==
      rows(Similarity.sqIvfEncode(all, "vec_id", "embedding", idx.cents)))
    // replay of the last folded batch is absorbed
    Similarity.appendSqIvfStreamBatch(
      emb.where(col("vec_id") >= 70 && col("vec_id") < 80),
      "vec_id", "embedding", d, batchId = 3L)
    assert(!new java.io.File(s"$g/codes_stream").exists())
  }
}
