package graft.pipeline

import graft.functions.TimeFns
import graft.ingest.{BBox, GridSource}
import graft.metrics._
import graft.model.SeriesSpec
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.ConcurrentHashMap
import scala.concurrent.{ExecutionContext, Future}

/** Async job runner + op-descriptor interpreter (reference
  * `tasks/celery_tasks.py`, SURVEY.md D7-D9, P7).
  *
  * Celery + Redis collapse into Spark: a job is a Future wrapping an
  * action, grouped via `setJobGroup` so it is cancellable and attributable;
  * status lives in a concurrent map, and a SparkListener streams per-stage
  * progress into it the way Celery streamed PROCESSING step/percent state
  * (`celery_tasks.py:111-116,144`).
  */
object Jobs {

  /** P7 — the "operations list" API of the reference's task runner
    * (`celery_tasks.py:210-231`): declarative descriptors interpreted onto
    * a DataFrame.
    */
  sealed trait Op
  final case class SliceTime(start: String, end: String) extends Op
  final case class SliceRegion(bbox: BBox) extends Op
  final case class Resample(freq: String) extends Op // "monthly"|"seasonal"|"annual"
  case object ComputeMean extends Op
  final case class Select(cols: Seq[String]) extends Op
  final case class Filter(condition: String) extends Op

  def interpret(df: DataFrame, spec: SeriesSpec, ops: Seq[Op]): DataFrame =
    ops.foldLeft(df) {
      case (d, SliceTime(s, e)) =>
        d.where(TimeFns.inTimeWindow(col(spec.tsCol), s, e))
      case (d, SliceRegion(b)) => GridSource.applyBBox(d, b)
      case (d, Resample("monthly")) => Temporal.monthlyMean(d, spec)
      case (d, Resample("seasonal")) => Temporal.seasonalMean(d, spec)
      case (d, Resample("annual")) => Temporal.annualMean(d, spec)
      case (_, Resample(f)) => throw new IllegalArgumentException(s"Unknown resample freq: $f")
      case (d, ComputeMean) =>
        d.groupBy(spec.keyCols.map(col): _*).agg(avg(col(spec.valueCol)).as("mean_value"))
      case (d, Select(cols)) => d.select(cols.map(col): _*)
      case (d, Filter(c)) => d.where(c)
    }

  /** D8 — metric dispatch by name (`celery_tasks.py:84-157`). */
  def computeMetric(df: DataFrame, spec: SeriesSpec, metric: String,
                    referencePeriod: Option[(String, String)] = None): DataFrame =
    metric match {
      case "monthly" => Temporal.monthlyMean(df, spec)
      case "seasonal" => Temporal.seasonalMean(df, spec)
      case "annual" => Temporal.annualMean(df, spec)
      case "climatology" => Temporal.climatology(df, spec, Temporal.ByMonth, referencePeriod)
      case "percentiles" => Percentiles.climatologicalPercentiles(df, spec,
        referencePeriod = referencePeriod)
      case "trend" => Trends.linearTrend(df, spec, referencePeriod)
      case "trend_significance" => Trends.mannKendall(df, spec)
      case "anomaly" => Anomalies.anomaly(df, spec, referencePeriod = referencePeriod)
      case other => throw new IllegalArgumentException(s"Unknown metric: $other")
    }

  // ---- D7/D9: job lifecycle

  /** Live stage/task progress of a running job — the analog of Celery's
    * PROCESSING meta with step/percent updates
    * (`celery_tasks.py:111-116,144`), fed by a SparkListener keyed on the
    * job group. `stagesTotal` grows as an action submits more Spark jobs
    * (AQE materializes a query stage at a time), so `percent` is monotone
    * per stage-set but may step back when a new job group member starts —
    * the same way Celery's per-step percent resets between steps.
    */
  final case class Progress(stagesDone: Int, stagesTotal: Int,
                            tasksDone: Int, tasksTotal: Int) {
    def percent: Double =
      if (stagesTotal == 0) 0.0 else 100.0 * stagesDone / stagesTotal
  }

  sealed trait JobStatus
  case object Pending extends JobStatus
  final case class Running(progress: Progress) extends JobStatus
  final case class Done(rows: Long) extends JobStatus
  final case class Failed(error: String) extends JobStatus

  final class JobManager(spark: SparkSession)(implicit ec: ExecutionContext) {
    private val statuses = new ConcurrentHashMap[String, JobStatus]()
    private val progress = new ConcurrentHashMap[String, Progress]()
    private val stageToJob = new ConcurrentHashMap[Int, String]()
    // bounded terminal retention: a session-lifetime manager fed fresh
    // UUIDs forever must not grow without bound — the oldest Done/Failed
    // entries (and their Progress and any skipped-stage mappings, which
    // never fire onStageCompleted) are evicted past the cap. 1024 recent
    // terminals is far more history than any status poller needs.
    private val maxRetainedTerminal = 1024
    private val terminalOrder =
      new java.util.concurrent.ConcurrentLinkedQueue[String]()

    private def markTerminal(id: String, st: JobStatus): Unit = {
      statuses.put(id, st)
      // a finished job's stage mappings are dead weight (skipped stages
      // — reused shuffle output — never complete and would leak)
      stageToJob.entrySet().removeIf(e => e.getValue == id)
      terminalOrder.add(id)
      while (terminalOrder.size > maxRetainedTerminal) {
        val old = terminalOrder.poll()
        if (old != null) {
          // evict only if STILL terminal — a resubmitted id is live again
          statuses.computeIfPresent(old, (_, cur) => cur match {
            case Done(_) | Failed(_) => progress.remove(old); null
            case live => live
          })
          ()
        }
      }
    }

    /** Streams per-stage progress into `statuses` — the docstring promise
      * at the top of this file, kept since round 13. Listener events are
      * ordered per SparkContext; only jobs this manager submitted (group
      * id present in `statuses`) are tracked.
      */
    private val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val gid = Option(j.properties)
          .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        gid.filter(statuses.containsKey).foreach { id =>
          j.stageInfos.foreach(si => stageToJob.put(si.stageId, id))
          val p = progress.merge(id,
            Progress(0, j.stageInfos.size, 0, j.stageInfos.map(_.numTasks).sum),
            (a, b) => Progress(a.stagesDone, a.stagesTotal + b.stagesTotal,
              a.tasksDone, a.tasksTotal + b.tasksTotal))
          markRunning(id, p)
        }
      }
      override def onStageCompleted(
          s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
        // remove-on-count: a stage retried after a fetch failure fires
        // one completion event PER ATTEMPT — counting each would push
        // percent past 100 and double tasksDone. (A stage Spark skips —
        // reused shuffle output — never completes, so percent is a floor,
        // not an exact gauge; Done is the authoritative terminal state.)
        Option(stageToJob.remove(s.stageInfo.stageId)).foreach { id =>
          val p = progress.computeIfPresent(id, (_, p0) =>
            Progress(p0.stagesDone + 1, p0.stagesTotal,
              p0.tasksDone + s.stageInfo.numTasks, p0.tasksTotal))
          if (p != null) markRunning(id, p)
        }
    }
    spark.sparkContext.addSparkListener(listener)

    /** Progress only overwrites a LIVE status — never a Done/Failed that
      * the submitting future has already recorded (listener events arrive
      * asynchronously after the action returns).
      */
    private def markRunning(id: String, p: Progress): Unit =
      statuses.computeIfPresent(id, (_, cur) => cur match {
        case Pending | Running(_) => Running(p)
        case terminal => terminal
      })

    /** Submit an action as a cancellable job; progress is attributable via
      * the job group and streamed into [[status]] per completed stage.
      */
    def submit(jobId: String, df: => DataFrame): Future[Long] = {
      statuses.put(jobId, Pending)
      progress.put(jobId, Progress(0, 0, 0, 0))
      // a REUSED jobId must not inherit the previous run's pending stage
      // mappings: a late listener event for an old stage would otherwise
      // overwrite the new run's Pending with stale progress
      stageToJob.entrySet().removeIf(e => e.getValue == jobId)
      Future {
        statuses.put(jobId, Running(progress.get(jobId)))
        spark.sparkContext.setJobGroup(jobId, s"graft job $jobId", interruptOnCancel = true)
        try {
          val n = df.count()
          markTerminal(jobId, Done(n))
          n
        } catch {
          case e: Throwable => markTerminal(jobId, Failed(e.getMessage)); throw e
        } finally spark.sparkContext.clearJobGroup()
      }
    }

    def status(jobId: String): Option[JobStatus] = Option(statuses.get(jobId))
    def cancel(jobId: String): Unit = spark.sparkContext.cancelJobGroup(jobId)

    /** Detach the listener (a JobManager held for the session lifetime
      * needs no close; short-lived managers should not leak listeners).
      */
    def close(): Unit = spark.sparkContext.removeSparkListener(listener)
  }
}
