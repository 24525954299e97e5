package graft.streaming

import graft.functions.TimeFns
import graft.model.SeriesSpec
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming-ready event operators (SURVEY.md §2.10 — additive scope: the
  * reference has no true streaming, only Celery jobs over batch time axes).
  *
  * The aggregations are written against event-time columns so the SAME
  * expressions run over a batch DataFrame and under Structured Streaming
  * with a watermark: `withWatermark` is a no-op in batch, and
  * `window(ts, ...)` buckets identically in both modes.
  */
object Streams {

  /** Tumbling event-time window stats per key. Works on batch and
    * streaming inputs; epoch-aligned `bucket` = window start.
    */
  def windowedStats(
      df: DataFrame,
      spec: SeriesSpec,
      windowDuration: String = "5 minutes",
      watermark: String = "10 minutes"
  ): DataFrame = {
    val in = if (df.isStreaming) df.withWatermark(spec.tsCol, watermark) else df
    in.groupBy(window(col(spec.tsCol), windowDuration) +: spec.keyCols.map(col): _*)
      .agg(
        count(lit(1)).as("n"),
        sum(col(spec.valueCol)).as("sum_value"),
        avg(col(spec.valueCol)).as("avg_value"))
      .select(col("window.start").as("bucket") +: (spec.keyCols.map(col) ++
        Seq(col("n"), col("sum_value"), col("avg_value"))): _*)
  }

  /** Sliding event-time windows (length > slide ⇒ each event lands in
    * length/slide buckets) — same expression under batch and streaming.
    */
  def slidingStats(
      df: DataFrame,
      spec: SeriesSpec,
      windowDuration: String,
      slideDuration: String,
      watermark: String = "10 minutes"
  ): DataFrame = {
    val in = if (df.isStreaming) df.withWatermark(spec.tsCol, watermark) else df
    in.groupBy(window(col(spec.tsCol), windowDuration, slideDuration) +:
        spec.keyCols.map(col): _*)
      .agg(count(lit(1)).as("n"), avg(col(spec.valueCol)).as("avg_value"))
      .select(col("window.start").as("bucket") +: (spec.keyCols.map(col) ++
        Seq(col("n"), col("avg_value"))): _*)
  }

  /** Batch gap-based sessionization: a new session starts when the gap from
    * the previous event of the same key exceeds `gapSeconds`. One row per
    * session with size and duration. (Streaming equivalent below keeps the
    * same session definition with explicit state.)
    */
  def sessionize(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      gapSeconds: Long,
      orderCols: Seq[String] = Nil
  ): DataFrame = {
    val order = (tsCol +: orderCols).map(col)
    val w = Window.partitionBy(col(keyCol)).orderBy(order: _*)
    val e = TimeFns.epochSeconds(col(tsCol))
    df.withColumn("_gap", e - lag(e, 1).over(w))
      .withColumn("_new", when(col("_gap").isNull || col("_gap") > gapSeconds, 1).otherwise(0))
      .withColumn("session_idx", sum(col("_new")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(keyCol), col("session_idx"))
      .agg(
        count(lit(1)).as("n_events"),
        (max(e) - min(e)).as("duration_sec"))
  }

  /** Declarative sessionization via Spark's native `session_window` —
    * same gap semantics as [[sessionize]] (equivalence pinned in
    * StreamingSpec) and streaming-capable with a watermark. Note the
    * boundary difference: session_window closes at gap STRICTLY greater
    * or equal? Spark merges events with gaps < gapSeconds into one
    * session window; [[sessionize]] starts a new session when
    * gap > gapSeconds — identical grouping except exact-gap ties.
    */
  def sessionizeNative(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      gapSeconds: Long
  ): DataFrame =
    df.groupBy(session_window(col(tsCol), s"$gapSeconds seconds"), col(keyCol))
      .agg(count(lit(1)).as("n_events"),
        (max(TimeFns.epochSeconds(col(tsCol))) -
          min(TimeFns.epochSeconds(col(tsCol)))).as("duration_sec"))
      .select(col(keyCol), col("session_window.start").as("session_start"),
        col("n_events"), col("duration_sec"))

  // ---- streaming sessionization with explicit state (D-analog of
  //      mapGroupsWithState; reference has only Celery jobs here)

  case class SessionEvent(userId: Long, epochSec: Double)
  case class SessionState(start: Double, last: Double, n: Long)
  case class ClosedSession(userId: Long, nEvents: Long, durationSec: Double)

  /** Stateful streaming sessionization: buffers per-key state, closes a
    * session when a later event arrives past the gap — and, when
    * `useTimeout` is set, also when the processing-time timeout fires after
    * `gapSeconds` of silence (production mode; tests drive closure with
    * data only, which is deterministic). Same session definition as
    * [[sessionize]].
    */
  def sessionizeStream(
      ds: Dataset[SessionEvent],
      gapSeconds: Long,
      useTimeout: Boolean = true
  ): Dataset[ClosedSession] = {
    import ds.sparkSession.implicits._
    val timeout =
      if (useTimeout) GroupStateTimeout.ProcessingTimeTimeout()
      else GroupStateTimeout.NoTimeout()
    ds.groupByKey(_.userId)
      .flatMapGroupsWithState[SessionState, ClosedSession](
        OutputMode.Append(), timeout) {
        (userId: Long, events: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ClosedSession(userId, s.n, s.last - s.start))
          } else {
            val sorted = events.toSeq.sortBy(_.epochSec)
            var closed = List.empty[ClosedSession]
            var cur = state.getOption
            sorted.foreach { e =>
              cur match {
                case Some(s) if e.epochSec - s.last <= gapSeconds =>
                  // min/max, not assignment: a LATE event from a later
                  // micro-batch (e.epochSec < s.last) must extend the
                  // session's bounds monotonically — overwriting `last`
                  // backwards made the next on-time event measure its gap
                  // against the straggler and wrongly split a live
                  // session (and could yield negative durations)
                  cur = Some(s.copy(start = math.min(s.start, e.epochSec),
                    last = math.max(s.last, e.epochSec), n = s.n + 1))
                case Some(s) =>
                  closed ::= ClosedSession(userId, s.n, s.last - s.start)
                  cur = Some(SessionState(e.epochSec, e.epochSec, 1))
                case None =>
                  cur = Some(SessionState(e.epochSec, e.epochSec, 1))
              }
            }
            cur.foreach { s =>
              state.update(s)
              if (useTimeout) state.setTimeoutDuration(gapSeconds * 1000)
            }
            closed.reverseIterator
          }
      }
  }

  /** Streaming deduplication by key within the watermark horizon — the
    * streaming face of [[graft.dedup.Dedup.exactGroups]]: state holds one
    * entry per key and is evicted once the watermark passes, so memory is
    * bounded by keys-per-horizon, not stream length. Works on batch
    * DataFrames too (falls back to plain dropDuplicates).
    */
  def dedupStream(df: DataFrame, keyCols: Seq[String], tsCol: String,
                  watermark: String = "10 minutes"): DataFrame =
    if (df.isStreaming)
      df.withWatermark(tsCol, watermark)
        .dropDuplicatesWithinWatermark(keyCols)
    else df.dropDuplicates(keyCols)

  /** Stream-stream interval join with watermarks on BOTH sides — the
    * streaming face of interval enrichment (click → purchase attribution
    * within a horizon). The join condition carries an explicit event-time
    * bound (`rightTs ∈ [leftTs, leftTs + horizon]`), which is what lets
    * Spark prove state is droppable: a buffered left row can never match
    * once the right watermark passes `leftTs + horizon`, so join state is
    * bounded by rows-per-horizon, not stream length — the only viable
    * stream-stream join shape at 100 TB/day. Inner-join matches emit as
    * soon as both sides arrive (no watermark latency). Works on batch
    * frames too: the same expression without watermarks.
    *
    * Column names must be disjoint (alias the right side first) so the
    * joined frame is unambiguous — checked up front.
    */
  def intervalJoinStream(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      leftTs: String,
      rightTs: String,
      horizonSeconds: Long,
      watermark: String = "30 minutes"): DataFrame = {
    val clash = left.columns.intersect(right.columns)
    require(clash.isEmpty,
      s"intervalJoinStream: column names must be disjoint, both sides have: ${clash.mkString(", ")}")
    require(horizonSeconds > 0, "horizonSeconds must be positive")
    val l = if (left.isStreaming) left.withWatermark(leftTs, watermark) else left
    val r = if (right.isStreaming) right.withWatermark(rightTs, watermark) else right
    l.join(r,
      col(leftKey) === col(rightKey) &&
        col(rightTs) >= col(leftTs) &&
        col(rightTs) <= col(leftTs) + expr(s"INTERVAL $horizonSeconds SECONDS"))
  }

  /** Streaming incremental aggregate maintenance — the streaming face of
    * [[graft.operators.Incremental]]: each micro-batch is reduced to its
    * mergeable partial state (n, Σx, Σx², min, max per key) and APPENDED
    * to a parquet state store; [[incrementalStatsRead]] merges the
    * accumulated states into current totals. This is the materialized-
    * view pattern at 100 TB/day: the stream never re-reads history, the
    * state table grows by group-cardinality rows per batch (compact it
    * with [[graft.ingest.GridSink.compact]] or re-partialize
    * periodically), and batch backfill writes the SAME state schema.
    */
  def incrementalStats(
      stream: DataFrame,
      keys: Seq[String],
      valueCol: String,
      stateDir: String,
      checkpointDir: String
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        // foreachBatch is at-least-once: a crash between the state write
        // and the checkpoint commit replays the batch with the SAME id.
        // Partitioning by batch_id with dynamic partition overwrite makes
        // the replay idempotent (it rewrites its own partition) instead
        // of double-counting into the merge.
        graft.operators.Incremental.partialState(batch.toDF(), keys, valueCol)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id")
          .parquet(stateDir)
        ()
      }
      .start()

  /** Merge the accumulated per-batch states into current per-key totals. */
  def incrementalStatsRead(spark: SparkSession, stateDir: String,
                           keys: Seq[String]): DataFrame =
    graft.operators.Incremental.merge(
      Seq(spark.read.parquet(stateDir).drop("batch_id")), keys)

  /** Stream-maintained ANN index — the streaming face of the persisted
    * IVF-PQ store ([[graft.sim.CodesStore]]): each arriving micro-batch
    * of embeddings is encoded with the STORED model and appended to the
    * store's stream extension ([[graft.sim.Similarity.appendStreamBatch]]),
    * then the cell-drift signal is probed and, past `driftThreshold`, the
    * index is REFIT from the source-of-truth corpus (`corpus` — the
    * embedding table including everything streamed so far; the index is
    * derived state, never reconstructed from its own codes). Serving
    * ([[graft.sim.Similarity.openIvfPqIndex]]) reads base codes ∪ stream
    * extension at any point — fresh sessions and restarts included. See
    * [[codesStream]] for the per-batch steps and why they are
    * exactly-once under replay.
    */
  def annIndexStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpointDir: String,
      corpus: SparkSession => DataFrame,
      driftThreshold: Double = 0.5,
      foldEveryBatches: Int = 0,
      foldMaxExtDirs: Int = DefaultFoldMaxExtDirs,
      failOnSkippedBatch: Boolean = false
  ): org.apache.spark.sql.streaming.StreamingQuery =
    codesStream(graft.sim.Similarity.ivfPqStore, "annIndexStream", stream,
      idCol, vecCol, indexPath, checkpointDir, corpus, driftThreshold,
      foldEveryBatches, foldMaxExtDirs, failOnSkippedBatch)

  /** Stream-maintained SQ×IVF index — [[annIndexStream]] on the int8
    * store: the refit fires when the extension's share of the index
    * reaches `growthThreshold` ([[graft.sim.Similarity.sqIvfStreamGrowth]]).
    * Serving ([[graft.sim.Similarity.openSqIvfIndex]]) reads base ∪
    * extension at any point.
    */
  def sqIvfIndexStream(
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpointDir: String,
      corpus: SparkSession => DataFrame,
      growthThreshold: Double = 0.5,
      foldEveryBatches: Int = 0,
      foldMaxExtDirs: Int = DefaultFoldMaxExtDirs,
      failOnSkippedBatch: Boolean = false
  ): org.apache.spark.sql.streaming.StreamingQuery =
    codesStream(graft.sim.Similarity.sqIvfStore, "sqIvfIndexStream", stream,
      idCol, vecCol, indexPath, checkpointDir, corpus, growthThreshold,
      foldEveryBatches, foldMaxExtDirs, failOnSkippedBatch)

  /** The one stream driver of a [[graft.sim.CodesStore]], either codec.
    * Each micro-batch, holding the store's MUTATION LEASE end to end
    * (owner `<driver>:b<N>`; re-entrant, so the store calls inside reuse
    * the hold and a concurrent delete or compaction from another writer
    * REJECTS instead of racing the write/checkpoint window):
    *  1. appends the batch to the stream extension — `(batch_id, cell)`
    *     partitions with dynamic overwrite, so a replayed batch rewrites
    *     its own partitions (the [[incrementalStats]] idempotence
    *     pattern);
    *  2. refits from `corpus` once the codec's staleness signal reaches
    *     `threshold` — a fresh generation carrying the batch id as its
    *     stream highwater, ATOMICALLY with the fit, so a replay landing
    *     after the refit is skipped instead of re-appending vectors the
    *     new fit already holds; a crash DURING the refit leaves an
    *     uncommitted generation that readers never see, and the replay
    *     re-appends idempotently and re-triggers it;
    *  3. otherwise folds the extension into base when the fold trigger
    *     fires — ON BY DEFAULT and keyed to OBSERVED fragmentation (the
    *     extension's partition-dir count, a metadata probe) rather than a
    *     batch counter, which a refit would reset invisibly. Folding
    *     collapses the per-batch fan-out (SCALE.md "ANN stream-extension
    *     fold": 100 unfolded batches cost the serve 1.8×) and raises the
    *     highwater atomically with its generation, so it is replay-safe
    *     too. `foldEveryBatches` is an optional fixed-cadence override.
    */
  private def codesStream(
      store: graft.sim.CodesStore[_],
      driver: String,
      stream: DataFrame,
      idCol: String,
      vecCol: String,
      indexPath: String,
      checkpointDir: String,
      corpus: SparkSession => DataFrame,
      threshold: Double,
      foldEveryBatches: Int,
      foldMaxExtDirs: Int,
      failOnSkippedBatch: Boolean
  ): org.apache.spark.sql.streaming.StreamingQuery =
    stream.writeStream
      .outputMode(OutputMode.Append())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        val s = batch.sparkSession
        graft.util.AtomicStore.withMutationLease(s, indexPath,
            owner = s"$driver:b$batchId") {
          val dropped = store.appendStream(
            batch.toDF(), idCol, vecCol, indexPath, batchId)
          // opt-in fail-fast on the fresh-checkpoint highwater gap: the
          // drop is always recorded machine-readably (_skipped_batches);
          // with this flag the stream additionally TERMINATES instead of
          // silently dropping every batch until ids catch up. Keyed to
          // THIS call's outcome, not the persistent ledger, so an old
          // incarnation's record can never kill a later healthy stream.
          failFastOnSkip(indexPath, batchId, dropped && failOnSkippedBatch)
          val refitted = store.refit(corpus(s), idCol, vecCol, indexPath,
            threshold, streamHighwater = Some(batchId))
          if (!refitted && shouldFold(s, indexPath, batchId,
              foldEveryBatches, foldMaxExtDirs))
            store.fold(s, indexPath)
        }
        ()
      }
      .start()

  /** Extension-dir budget past which the stream drivers fold by default
    * (≈ the SCALE.md point where the fragmented union's metadata cost is
    * measurable but the fold amortizes over many batches). 0 disables.
    */
  val DefaultFoldMaxExtDirs: Int = 64

  private def shouldFold(s: SparkSession, indexPath: String, batchId: Long,
                         foldEveryBatches: Int, foldMaxExtDirs: Int): Boolean =
    (foldEveryBatches > 0 &&
      batchId % foldEveryBatches == foldEveryBatches - 1L) ||
    (foldMaxExtDirs > 0 &&
      graft.sim.Similarity.streamExtensionDirCount(s, indexPath)
        >= foldMaxExtDirs)

  private def failFastOnSkip(indexPath: String,
                             batchId: Long, fire: Boolean): Unit =
    if (fire)
      throw new IllegalStateException(
        s"stream batch $batchId was DROPPED by the index's stream " +
          s"highwater at $indexPath — the stream restarted with a fresh " +
          "checkpoint against an existing index (see _skipped_batches). " +
          "failOnSkippedBatch is set: terminating instead of silently " +
          "losing data. Keep the original checkpoint, point at a new " +
          "index, or refit.")

  /** Open a parquet directory as a stream with an explicit schema — the
    * local test harness for the streaming paths.
    */
  def parquetStream(spark: SparkSession, path: String,
                    schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.readStream.schema(schema).parquet(path)
}
