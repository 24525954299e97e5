package graft.sim

import graft.util.AtomicStore
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** The codec seam of a [[CodesStore]]: what one vector store really
  * differs in from another. The store owns the lifecycle; a codec names
  * its columns and tables, loads its model, encodes rows with it and
  * says when that model has gone stale. `I` is the opened index — the
  * driver-held model plus the lazy live codes table.
  */
private[graft] trait CodesCodec[I] {
  /** Stem of the public API names, used for lease owners ("IvfPq" →
    * `appendToIvfPqIndex`, `compactIvfPqStreamExtension`, …).
    */
  def name: String
  /** Failpoint label prefix of every table a generation write publishes
    * (`ivfpq` → `ivfpq:meta`, `ivfpq:codes`, …).
    */
  def label: String
  /** Id column of the codes and tombstones tables. */
  def idCol: String
  /** Model tables a fold copies verbatim into the new generation. */
  def modelTables: Seq[String]
  /** Collect generation `dir`'s model to the driver; the result attaches
    * a codes table to it. The result is cached and runs on every open,
    * so all reads happen here, before it is returned.
    */
  def load(spark: SparkSession, dir: String): DataFrame => I
  /** `df`'s vectors encoded with an opened index's model — one row per
    * vector in the base codes table's columns, `cell` included.
    */
  def encode(index: I, df: DataFrame, idCol: String, vecCol: String): DataFrame
  /** Refit signal of the committed generation under `path`; a refit
    * fires once it reaches the caller's threshold.
    */
  def staleness(spark: SparkSession, path: String): Double
  /** Fit `df` afresh under `path` with the generation parameters in
    * `meta`, carrying `streamHighwater` into the new generation.
    */
  def refit(df: DataFrame, idCol: String, vecCol: String, path: String,
            meta: Row, streamHighwater: Option[Long]): Unit
}

/** One generational store of vector codes — the persisted, appendable,
  * compactable half of the IVF-PQ and SQ×IVF indexes, parameterised by
  * a [[CodesCodec]] (MorphStore's compressed format as a parameter of one
  * processing model).
  *
  * Layout: `path/` holds [[graft.util.AtomicStore]] generations
  * (`gen-N/` + `_commit_N`). Inside a generation:
  *  - the codec's model tables (`meta`, `centroids`, …);
  *  - `codes` — one row per vector, partitioned by `cell`, so a serve
  *    that probes nprobe cells reads only those directories;
  *  - `codes_stream` — the stream extension, partitioned by
  *    `(batch_id, cell)` so an at-least-once replay rewrites its own
  *    partitions, with one `_complete_b<N>` sentinel per job-committed
  *    batch;
  *  - `tombstones` — deleted ids, masked by an anti-join at open time;
  *  - `_stream_highwater` — the last micro-batch a fit or fold absorbed.
  * The store root also holds the `_skipped_batches` ledger.
  *
  * Every mutation runs under the store's mutation lease
  * ([[graft.util.AtomicStore.withMutationLease]]): a delete or compaction
  * racing a live stream batch rejects instead of dropping a mask the
  * batch's replay still needs.
  */
private[graft] final class CodesStore[I](codec: CodesCodec[I]) {
  import CodesStore._

  private def lease[T](spark: SparkSession, path: String, op: String)
                      (body: => T): T =
    AtomicStore.withMutationLease(spark, path, owner = op)(body)

  /** Publish a fresh generation — the one commit path of fits and folds.
    * Each table is written under `gen-N/` after its `<label>:<table>`
    * failpoint, in the order given (`rows` gets the generation directory,
    * so a table may derive from one written before it); `codes` is
    * cell-partitioned, and a carried `codes_stream` keeps the sentinel
    * convention visible. The stream highwater lands inside the generation
    * BEFORE the marker commit — atomic with the fit, so a replay of a
    * folded batch can never double-apply; `None` scrubs a stale one from
    * a reused generation id. A fresh generation has no tombstones: a
    * (re)fit defines the whole store.
    */
  def publish(spark: SparkSession, path: String, streamHighwater: Option[Long])
             (tables: (String, String => DataFrame)*): Unit = {
    val (gen, gdir) = AtomicStore.begin(spark, path)
    tables.foreach { case (table, rows) =>
      AtomicStore.failpoint(s"${codec.label}:$table")
      val w = rows(gdir).write.mode("overwrite")
      (table match {
        case "codes" => w.partitionBy("cell")
        case Stream => w.partitionBy("batch_id", "cell")
        case _ => w
      }).parquet(s"$gdir/$table")
      // a carried extension has no sentinels of its own: without the
      // convention marker a later fold would misread it as legacy
      if (table == Stream) touch(spark, s"$gdir/$Stream/_sentinels_enabled")
    }
    val hw = new Path(s"$gdir/_stream_highwater")
    val fs = fsOf(spark, hw)
    streamHighwater match {
      case Some(b) =>
        val out = fs.create(hw, true)
        try out.write(b.toString.getBytes("UTF-8")) finally out.close()
      case None => if (fs.exists(hw)) { fs.delete(hw, false); () }
    }
    AtomicStore.commit(spark, path, gen)
    invalidate(path)
  }

  /** Open the store: the model collects to the driver once per generation
    * (see [[models]]); the codes stay a lazy, cell-pruned live view. Hot
    * serve path, so the generation is resolved through the TTL cache.
    */
  def open(spark: SparkSession, path: String): I =
    openIn(spark, AtomicStore.resolveCached(spark, path))

  private def openIn(spark: SparkSession, dir: String): I = {
    // the codes schema rides in the model cache: appends, deletes and
    // compactions keep it, so later opens skip schema inference
    val (schema, attach) = models.getOrElseUpdate(dir,
      (spark.read.parquet(s"$dir/codes").schema, codec.load(spark, dir)))
    attach(live(spark, dir, Some(schema))).asInstanceOf[I]
  }

  /** The live codes of generation `dir`: base ∪ stream extension, minus
    * tombstoned ids. The union keeps cell pruning on both sides; the
    * anti-join broadcasts while the tombstone set is small (compaction
    * keeps it so) and degrades to a shuffled anti-join past that.
    */
  def live(spark: SparkSession, dir: String,
           schema: Option[StructType] = None): DataFrame = {
    val base = schema.fold(spark.read)(spark.read.schema(_)).parquet(s"$dir/codes")
    val ext = new Path(s"$dir/$Stream")
    val codes =
      if (fsOf(spark, ext).exists(ext))
        base.unionByName(readStream(spark, dir, base.schema)
          .select(base.columns.toIndexedSeq.map(col): _*))
      else base
    AtomicStore.tombstonesOpt(spark, dir)
      .fold(codes)(t => codes.join(t, Seq(codec.idCol), "left_anti"))
  }

  /** Append vectors to the base codes, encoded with the STORED model (no
    * refit, so existing codes stay valid) into the same cell layout. A
    * crashed append is invisible: parquet stages in `_temporary/`.
    * Caller owns id uniqueness among LIVE ids; re-adding a deleted id is
    * an upsert (see [[compactOnCollision]]).
    */
  def append(df: DataFrame, idCol: String, vecCol: String, path: String): Unit = {
    val spark = df.sparkSession
    lease(spark, path, s"appendTo${codec.name}Index") {
      val dir = AtomicStore.resolve(spark, path)
      compactOnCollision(df, idCol, dir)
      codec.encode(openIn(spark, dir), df, idCol, vecCol)
        .write.mode("append").partitionBy("cell").parquet(s"$dir/codes")
    }
  }

  /** Stream append of micro-batch `batchId` into `codes_stream`, with
    * dynamic partition overwrite so a replay rewrites its own partitions,
    * then the batch's `_complete_b<N>` sentinel. A batch at or below the
    * generation's highwater was already absorbed by a fit or fold and is
    * skipped. Returns true when the batch was DROPPED: a gap of more than
    * one below the highwater means a stream restarted with a fresh
    * checkpoint (ids reset) — recorded in `_skipped_batches` and warned,
    * not thrown, so a legitimate replay never wedges.
    */
  def appendStream(df: DataFrame, idCol: String, vecCol: String,
                   path: String, batchId: Long): Boolean = {
    val spark = df.sparkSession
    val op = s"append${codec.name}StreamBatch"
    lease(spark, path, s"$op:b$batchId") {
      val dir = AtomicStore.resolve(spark, path)
      highwaterOf(spark, dir).filter(_ >= batchId) match {
        case Some(hw) if hw - batchId > 1L =>
          System.err.println(s"[graft] $op: batch $batchId skipped by " +
            s"stream highwater $hw at $path — a gap this large usually " +
            "means the stream restarted with a FRESH checkpoint (batch ids " +
            "reset) against an existing index; those batches are NOT being " +
            "appended. Point the new stream at a new index, refit, or keep " +
            "the original checkpoint directory. Recorded in " +
            "_skipped_batches (see Similarity.skippedStreamBatches).")
          recordSkipped(spark, path, batchId, hw)
          true
        case Some(_) => false // replay absorption, not data loss
        case None =>
          compactOnCollision(df, idCol, dir)
          codec.encode(openIn(spark, dir), df, idCol, vecCol)
            .withColumn("batch_id", lit(batchId))
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("batch_id", "cell")
            .parquet(s"$dir/$Stream")
          // only AFTER the parquet job committed: a kill inside the job —
          // even inside the committer's file moves, which leaves partial
          // files — leaves no sentinel, so a fold carries the batch
          // instead of absorbing its replay
          touch(spark, s"$dir/$Stream/_complete_b$batchId")
          false
      }
    }
  }

  /** delete → re-add is an upsert: when an incoming id is tombstoned, fold
    * the tombstones first so only the new row serves.
    */
  private def compactOnCollision(df: DataFrame, idCol: String, dir: String): Unit = {
    val ids = df.select(col(idCol).as(codec.idCol)).distinct()
    if (AtomicStore.tombstonesOpt(df.sparkSession, dir)
          .exists(t => !t.join(ids, Seq(codec.idCol), "left_semi").isEmpty))
      compactIn(df.sparkSession, dir)
  }

  /** Delete by id: a small append to `tombstones`, no codes rewrite. The
    * live view masks the ids at once; [[compact]] reclaims the rows.
    */
  def delete(ids: DataFrame, idCol: String, path: String): Unit = {
    val spark = ids.sparkSession
    lease(spark, path, s"deleteFrom${codec.name}Index") {
      ids.select(col(idCol).as(codec.idCol)).distinct()
        .write.mode("append")
        .parquet(s"${AtomicStore.resolve(spark, path)}/tombstones")
    }
  }

  /** Fold the tombstones into the codes layout in place (see [[compactIn]]). */
  def compact(spark: SparkSession, path: String): Unit =
    lease(spark, path, s"compact${codec.name}Index") {
      compactIn(spark, AtomicStore.resolve(spark, path))
    }

  /** Rewrite only the partitions holding a tombstoned id, in BOTH tables
    * the live view unions — a tombstoned id streamed in lives only in
    * `codes_stream`, and dropping the mask while its rows survive would
    * resurrect it — then drop the tombstones LAST. A crash at any interior
    * point leaves the mask in place, so reads before, during and after
    * are identical. The extension is read with an explicit schema: a
    * data-free one (every partition compacted away earlier, or a crashed
    * first append's lone `_temporary/`) reads as empty instead of failing
    * schema inference.
    */
  private def compactIn(spark: SparkSession, dir: String): Unit =
    AtomicStore.tombstonesOpt(spark, dir).foreach { tomb =>
      val fs = fsOf(spark, new Path(dir))
      val base = spark.read.parquet(s"$dir/codes")
      compactTable(spark, fs, s"$dir/codes", Seq("cell"), tomb, base)
      if (fs.exists(new Path(s"$dir/$Stream")))
        compactTable(spark, fs, s"$dir/$Stream", Seq("batch_id", "cell"),
          tomb, readStream(spark, dir, base.schema), allowEmpty = true)
      fs.delete(new Path(s"$dir/tombstones"), true)
    }

  /** Rewrite ONLY the partitions of one codes table that hold a tombstoned
    * id (dynamic partition overwrite — untouched partitions keep their
    * files); a partition whose every row was tombstoned is deleted
    * directly (dynamic overwrite never visits it). The affected-partition
    * list collects to the driver, bounded by the partition count.
    */
  private def compactTable(spark: SparkSession, fs: FileSystem,
                           table: String, partCols: Seq[String],
                           tomb: DataFrame, codes: DataFrame,
                           allowEmpty: Boolean = false): Unit = {
    def partPath(vals: Seq[Any]): String =
      partCols.zip(vals).map { case (c, v) => s"$c=$v" }.mkString("/")
    val affected = codes.join(tomb, Seq(codec.idCol), "left_semi")
      .select(partCols.map(col): _*).distinct().collect()
      .map(r => partCols.indices.map(r.get))
    if (affected.nonEmpty) {
      // survivors of the affected partitions only; staged through a temp
      // dir because Spark refuses to overwrite a path it is reading from
      val tmp = s"$table$CompactTmpSuffix"
      val hit = affected.map(partPath).toSet
      // OR-of-equalities over the partition columns: partition pruning
      // handles equality disjunctions, so only the affected directories
      // are read. BOUNDED: past a few hundred terms the left-nested Or
      // costs Catalyst more than the pruning saves (and codegen has a
      // 64KB method limit) — a tombstone set touching that many
      // partitions rewrites most of the table anyway, so fall back to a
      // broadcast semi-join against the affected tuples.
      val affectedHit =
        if (affected.size <= CompactPredicateMaxTerms)
          codes.where(affected.map { vals =>
            partCols.zip(vals).map { case (c, v) => col(c) === lit(v) }
              .reduce(_ && _)
          }.reduce(_ || _))
        else {
          import spark.implicits._
          val tuples = affected.map(partPath).toSeq.toDF("__part")
          codes.withColumn("__part", concat_ws("/",
              partCols.map(c => concat(lit(c + "="), col(c).cast("string"))): _*))
            .join(broadcast(tuples), Seq("__part"), "left_semi")
            .drop("__part")
        }
      val survivors = affectedHit.join(tomb, Seq(codec.idCol), "left_anti")
      survivors.write.mode("overwrite").partitionBy(partCols: _*).parquet(tmp)
      // an empty partitioned write emits no data files, so the staged
      // read needs the survivors' schema handed to it explicitly
      val staged = spark.read.schema(survivors.schema).parquet(tmp)
      val stillThere = staged.select(partCols.map(col): _*).distinct()
        .collect().map(r => partPath(partCols.indices.map(r.get))).toSet
      // a BASE codes table must never end up data-free: its schema is
      // only recoverable from its own files. A 100%-tombstoned corpus is
      // a store drop, not a compaction — refuse loudly (the mask already
      // serves zero rows). Stream extensions pass allowEmpty: they are
      // read with an explicit schema and removed when empty.
      if (!allowEmpty && stillThere.isEmpty &&
          codes.select(partCols.map(col): _*).distinct().count() == affected.length) {
        fs.delete(new Path(tmp), true)
        throw new IllegalStateException(
          s"compacting $table would delete its LAST data file (every " +
            "remaining row is tombstoned). Serving already returns " +
            "nothing under the tombstone mask; drop the store directory " +
            "or refit it instead of compacting an all-deleted corpus.")
      }
      if (stillThere.nonEmpty)
        staged.write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy(partCols: _*).parquet(table)
      hit.filterNot(stillThere).foreach(p => fs.delete(new Path(s"$table/$p"), true))
      fs.delete(new Path(tmp), true)
    }
  }

  /** Fold the stream extension into the base codes in a FRESH generation
    * — the small-file compaction a long stream needs (one `(batch_id,
    * cell)` directory per batch × cell is the price of idempotent
    * replay). Tombstones fold first ([[compactIn]]); the model tables copy
    * verbatim (a drift baseline must stay the FIT's); base ∪ the
    * job-committed batches rewrite cell-partitioned; the highwater rises
    * to the last folded batch, so a replay of it is absorbed as after a
    * refit. Only sentineled batches fold: a batch killed mid-write (even
    * mid-commit, with partial files) is CARRIED into the new extension
    * for its replay to rewrite. An extension with no sentinels and no
    * convention marker predates sentinels and folds whole. Serving is
    * identical before and after. Returns false when there is nothing to
    * fold.
    */
  def fold(spark: SparkSession, path: String): Boolean =
    lease(spark, path, s"compact${codec.name}StreamExtension") {
      val dir = AtomicStore.resolve(spark, path)
      val ext = new Path(s"$dir/$Stream")
      val fs = fsOf(spark, ext)
      if (!fs.exists(ext)) false
      else {
        compactIn(spark, dir)
        val base = spark.read.parquet(s"$dir/codes")
        val extRows = readStream(spark, dir, base.schema)
        // every streamed row tombstone-compacted away: drop the empty
        // directory so later opens skip the union
        if (extRows.isEmpty) { fs.delete(ext, true); false }
        else {
          val maxBatch = extRows
            .agg(max(col("batch_id").cast("long"))).head().getLong(0)
          val maxComplete =
            sentineledBatches(fs, ext).fold(maxBatch)(_.foldLeft(-1L)(math.max))
          val batch = col("batch_id").cast("long")
          val merged = base.unionByName(extRows.where(batch <= maxComplete)
            .select(base.columns.toIndexedSeq.map(col): _*))
          val carry =
            if (maxComplete < maxBatch)
              Seq(Stream -> ((_: String) => extRows.where(batch > maxComplete)))
            else Nil
          val hw = math.max(highwaterOf(spark, dir).getOrElse(-1L), maxComplete)
          publish(spark, path, Some(hw))(
            codec.modelTables.map(t =>
              t -> ((_: String) => spark.read.parquet(s"$dir/$t"))) ++
            Seq("codes" -> ((_: String) => merged)) ++ carry: _*)
          true
        }
      }
    }

  /** Refit from the CURRENT corpus `df` (the source of truth; the store is
    * derived state) once the codec's staleness signal reaches `threshold`,
    * with the generation's persisted parameters — bit-identical to a fresh
    * fit of today's corpus with the same seed. The new generation starts
    * with no tombstones and no extension. Returns whether it refit.
    */
  def refit(df: DataFrame, idCol: String, vecCol: String, path: String,
            threshold: Double, streamHighwater: Option[Long]): Boolean = {
    val spark = df.sparkSession
    lease(spark, path, s"refit${codec.name}Index") {
      if (codec.staleness(spark, path) < threshold) false
      else {
        val meta = spark.read
          .parquet(s"${AtomicStore.resolve(spark, path)}/meta").head()
        codec.refit(df, idCol, vecCol, path, meta, streamHighwater)
        true
      }
    }
  }
}

private[graft] object CodesStore {

  /** The stream extension table of a generation. */
  val Stream = "codes_stream"

  private val CompactTmpSuffix = "_compact_tmp"

  /** Affected-partition count above which compaction switches from the
    * prunable OR-of-equalities filter to a broadcast semi-join;
    * test-visible so the join leg is exercised at small sizes.
    */
  private[graft] var CompactPredicateMaxTerms = 256

  /** Per-JVM cache of opened models — a server loads a model once and
    * serves many batches. Keyed by the GENERATION directory, which never
    * changes once committed (a refit or fold publishes a new one), so an
    * entry cannot go stale; appends, deletes and compactions touch only
    * the codes and tombstones, which stay lazy per open. The value is the
    * codes schema and the codec's model, ready to take a codes table.
    */
  private val models =
    scala.collection.concurrent.TrieMap.empty[String, (StructType, DataFrame => Any)]

  /** Free the cached generations of `path` after an in-process publish
    * (their keys would simply never be asked for again).
    */
  private def invalidate(path: String): Unit =
    models.keys.filter(k => k == path || k.startsWith(path + "/"))
      .foreach(models.remove)

  private def fsOf(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sessionState.newHadoopConf())

  private def touch(spark: SparkSession, file: String): Unit = {
    val p = new Path(file)
    fsOf(spark, p).create(p, true).close()
  }

  private def readSmall(fs: FileSystem, p: Path): String = {
    val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
    val in = fs.open(p)
    try in.readFully(0, buf) finally in.close()
    new String(buf, "UTF-8").trim
  }

  /** The extension of generation `dir`, read with an EXPLICIT schema (the
    * base codes schema + `batch_id`), so a directory holding no committed
    * file reads as empty instead of failing schema inference.
    */
  private def readStream(spark: SparkSession, dir: String,
                         baseSchema: StructType): DataFrame =
    spark.read.schema(StructType(baseSchema.fields :+
        StructField("batch_id", LongType)))
      .parquet(s"$dir/$Stream")

  /** Batch ids the extension holds completion sentinels for; `None` for
    * a pre-sentinel extension (no `_complete_b*` and no
    * `_sentinels_enabled` marker), which folds whole. `Some(empty)` is an
    * extension that follows the convention but holds no complete batch —
    * a carried one — so a second fold before the replay cannot mistake
    * it for a legacy extension.
    */
  private def sentineledBatches(fs: FileSystem, ext: Path): Option[Set[Long]] = {
    val names = fs.listStatus(ext).iterator
      .filter(_.isFile).map(_.getPath.getName).toSeq
    val ids = names.filter(_.startsWith("_complete_b"))
      .flatMap(n => n.drop("_complete_b".length).toLongOption).toSet
    if (ids.isEmpty && !names.contains("_sentinels_enabled")) None
    else Some(ids)
  }

  /** Last micro-batch a generation's fit or fold absorbed. */
  private def highwaterOf(spark: SparkSession, dir: String): Option[Long] = {
    val p = new Path(s"$dir/_stream_highwater")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) None else Some(readSmall(fs, p).toLong)
  }

  /** Per-batch skip markers beyond this collapse into one `overflow`
    * record — see [[recordSkipped]].
    */
  private val SkippedLedgerCap = 512

  /** Record a dropped stream batch at the STORE ROOT
    * (`_skipped_batches/b<id>_hw<hw>`), outside the generations, so the
    * record survives refits and folds; re-creating it on a replayed skip
    * is a no-op. BOUNDED: a fresh-checkpoint stream left running drops
    * every batch, so past [[SkippedLedgerCap]] markers one overwritten
    * `overflow` record tracks the latest drop.
    */
  private def recordSkipped(spark: SparkSession, path: String,
                            batchId: Long, highwater: Long): Unit = {
    val dirP = new Path(s"$path/_skipped_batches")
    val fs = fsOf(spark, dirP)
    fs.mkdirs(dirP)
    if (fs.listStatus(dirP).length < SkippedLedgerCap) {
      try fs.create(new Path(dirP, s"b${batchId}_hw$highwater"), false).close()
      catch { case _: java.io.IOException => () } // replayed skip: same record
    } else {
      val out = fs.create(new Path(dirP, "overflow"), true)
      try out.write(s"$batchId:$highwater".getBytes("UTF-8"))
      finally out.close()
    }
  }

  /** The dropped-batch ledger of a stream-maintained store: one
    * `(batch_id, highwater)` row per batch the highwater gap guard
    * refused. A healthy stream keeps it empty. One directory listing.
    */
  def skippedBatches(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    val dirP = new Path(s"$path/_skipped_batches")
    val fs = fsOf(spark, dirP)
    val names =
      if (!fs.exists(dirP)) Seq.empty
      else fs.listStatus(dirP).toSeq.map(_.getPath.getName)
    def pair(b: String, hw: String) = (b.toLong, hw.toLong)
    val itemized = names.collect {
      case s if s.startsWith("b") && s.contains("_hw") =>
        val Array(b, hw) = s.drop(1).split("_hw", 2); pair(b, hw)
    }
    // past the cap the latest drop lives in the single overflow record
    val overflow =
      if (!names.contains("overflow")) Seq.empty
      else readSmall(fs, new Path(dirP, "overflow")).split(":", 2) match {
        case Array(b, hw) => Seq(pair(b, hw))
        case _ => Seq.empty
      }
    (itemized ++ overflow).distinct.sorted.toDF("batch_id", "highwater")
  }

  /** The number of first-level `batch_id=…` directories in the committed
    * generation's extension — one per unfolded batch. One `listStatus`.
    */
  def extensionDirCount(spark: SparkSession, path: String): Int = {
    val p = new Path(s"${AtomicStore.resolve(spark, path)}/$Stream")
    val fs = fsOf(spark, p)
    if (!fs.exists(p)) 0 else fs.listStatus(p).count(_.isDirectory)
  }

  /** The extension's share of the store (`streamed / fitted` rows), 0
    * with no extension.
    */
  def streamShare(spark: SparkSession, path: String): Double = {
    val dir = AtomicStore.resolve(spark, path)
    val ext = new Path(s"$dir/$Stream")
    if (!fsOf(spark, ext).exists(ext)) 0.0
    else {
      val base = spark.read.parquet(s"$dir/codes")
      readStream(spark, dir, base.schema).count().toDouble /
        math.max(base.count(), 1L)
    }
  }
}
