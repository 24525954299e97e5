package graft.bench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Shared measurement probes for the bench harness ([[graft.Bench]]) and
  * the fresh-JVM upscale child ([[UpscaleProbe]]): host-steal attribution,
  * stop-the-world GC time, JIT/code-cache occupancy, the bounded
  * contention deferral both suites preflight with, and the per-query
  * Spark work counter ([[SparkCounter]]) both report as `layers`.
  */
object Meter {

  /** Format a seconds (or count) value for a JSON line. Non-finite values
    * (which valid JSON cannot carry and which would silently break any
    * parse of the WHOLE artifact) degrade to the same -1.0
    * sentinel a failed query reports — a measurement can never be NaN/Inf
    * unless the clock or stats code is broken, and one poisoned number
    * must not cost the round its comparison baseline.
    */
  def f3(v: Double): String =
    if (java.lang.Double.isFinite(v)) f"$v%.3f" else "-1.000"

  /** The Spark work of one job group: plan and exec seconds of its SQL
    * executions, its jobs, stages and tasks, task CPU seconds, stage input
    * bytes, shuffle read+write and spill (memory+disk) in MB.
    */
  final case class Work(planS: Double, execS: Double, jobs: Double,
                        stages: Double, tasks: Double, taskCpuS: Double,
                        inputMb: Double, shuffleMb: Double, spillMb: Double) {
    def +(o: Work): Work = Work(planS + o.planS, execS + o.execS,
      jobs + o.jobs, stages + o.stages, tasks + o.tasks,
      taskCpuS + o.taskCpuS, inputMb + o.inputMb, shuffleMb + o.shuffleMb,
      spillMb + o.spillMb)

    /** Mean per run, over `runs` runs of the group. */
    def per(runs: Int): Work = Work(planS / runs, execS / runs,
      jobs / runs, stages / runs, tasks / runs, taskCpuS / runs,
      inputMb / runs, shuffleMb / runs, spillMb / runs)

    def json: String =
      s"""{"plan_s":${f3(planS)},"exec_s":${f3(execS)},""" +
        s""""jobs":${f3(jobs)},"stages":${f3(stages)},"tasks":${f3(tasks)},""" +
        s""""task_cpu_s":${f3(taskCpuS)},"input_mb":${f3(inputMb)},""" +
        s""""shuffle_mb":${f3(shuffleMb)},"spill_mb":${f3(spillMb)}}"""
  }

  object Work {
    val zero: Work = Work(0, 0, 0, 0, 0, 0, 0, 0, 0)
  }

  /** Counts Spark work per job group (`SparkContext.setJobGroup`): a caller
    * sets a query's name as the group around its timed runs, and reads
    * every group's totals once at the end.
    *
    *  - jobs from job starts; stages, tasks, task CPU, input, shuffle and
    *    spill from each completed stage attempt's aggregated task metrics,
    *    attributed through the group the stage was submitted under;
    *  - input (`input_mb`) is Spark's stage `inputMetrics.bytesRead`. For
    *    these Parquet scans it is not a measure of scan cost: at sf0.1
    *    q_anomaly, which scans several columns of an 11 MB
    *    `lineitem.parquet`, reads 0.036 MB per run, and q_minhash_dedup
    *    0.007 MB from a 0.6 MB `documents.parquet`. Reads of a cached
    *    relation count in it;
    *  - plan and exec seconds from each root SQL execution's end event:
    *    plan is what the execution's own `QueryExecution` tracker measured
    *    (see `Bridge.planAndTotalSeconds`), exec the rest of its span. The
    *    timed path gains no planning step of its own.
    *
    * Listener events arrive asynchronously; [[read]] waits until a
    * sentinel job's end event has passed through this listener, and the
    * bus delivers events in order, so every event posted before the read
    * (all of a finished action's) has been counted.
    */
  final class SparkCounter(sc: SparkContext) extends SparkListener {
    private val GroupKey = "spark.jobGroup.id"
    private val SentinelKey = "graft.meter.sentinel"
    private val ReadTimeoutMs = 60000L
    private val work = scala.collection.mutable.Map[String, Work]()
    private val stageGroup = scala.collection.mutable.Map[(Int, Int), String]()
    private val execGroup = scala.collection.mutable.Map[Long, String]()
    private val sentinelJobs = scala.collection.mutable.Map[Int, String]()
    private val sentinelsDone = scala.collection.mutable.Set[String]()
    sc.addSparkListener(this)

    private def add(group: String, w: Work): Unit =
      work(group) = work.getOrElse(group, Work.zero) + w

    private def prop(p: java.util.Properties, key: String): Option[String] =
      Option(p).flatMap(p => Option(p.getProperty(key)))

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      prop(e.properties, SentinelKey) match {
        case Some(token) => sentinelJobs(e.jobId) = token
        case None =>
          prop(e.properties, GroupKey).foreach(add(_, Work.zero.copy(jobs = 1)))
      }
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      sentinelJobs.remove(e.jobId).foreach { token =>
        sentinelsDone += token; notifyAll()
      }
    }

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      synchronized {
        prop(e.properties, GroupKey).foreach { g =>
          stageGroup((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = g
        }
      }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        stageGroup.remove((si.stageId, si.attemptNumber())).foreach { g =>
          val m = si.taskMetrics
          add(g, Work.zero.copy(stages = 1, tasks = si.numTasks,
            taskCpuS = m.executorCpuTime / 1e9,
            inputMb = m.inputMetrics.bytesRead / 1e6,
            shuffleMb = (m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten) / 1e6,
            spillMb = (m.memoryBytesSpilled + m.diskBytesSpilled) / 1e6))
        }
      }

    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      // a nested execution runs inside its root's span: only roots count
      case s: SparkListenerSQLExecutionStart
          if s.rootExecutionId.forall(_ == s.executionId) =>
        s.jobGroupId.foreach(g => synchronized { execGroup(s.executionId) = g })
      case end: SparkListenerSQLExecutionEnd => synchronized {
        for (g <- execGroup.remove(end.executionId);
             (plan, total) <- org.apache.spark.sql.graft.Bridge
               .planAndTotalSeconds(end))
          add(g, Work.zero.copy(planS = plan, execS = total - plan))
      }
      case _ => ()
    }

    /** Every group's totals so far; a group that ran nothing reads as
      * [[Work.zero]]. Returns once all events of actions that finished
      * before the call have been counted (a sentinel job's end event is
      * the barrier); fails if the sentinel does not arrive within a
      * minute (the bus dropped events, so the counts would be short).
      */
    def read(): Map[String, Work] = {
      val token = java.util.UUID.randomUUID().toString
      sc.setLocalProperty(SentinelKey, token)
      // a job over no partitions: its start and end events are posted at
      // once, with no task to run
      try sc.emptyRDD[Int].count() finally sc.setLocalProperty(SentinelKey, null)
      val deadline = System.currentTimeMillis() + ReadTimeoutMs
      synchronized {
        while (!sentinelsDone(token)) {
          val left = deadline - System.currentTimeMillis()
          if (left <= 0) sys.error("Spark counter: no sentinel job end " +
            s"event within $ReadTimeoutMs ms")
          wait(left)
        }
        sentinelsDone -= token
        work.toMap.withDefaultValue(Work.zero)
      }
    }

    def close(): Unit = sc.removeSparkListener(this)
  }

  /** Guest-visible host interference: cumulative steal+iowait seconds
    * from /proc/stat (steal = vCPU runnable but not scheduled by the
    * host — the r9/r10 tail-stall diagnosis; see SCALE.md). Summed over
    * all CPUs; monotonic, so per-iteration deltas attribute a stall to
    * the box rather than to the query under test.
    */
  def stealIoSeconds(): Double = try {
    val cpu = scala.io.Source.fromFile("/proc/stat").getLines()
      .find(_.startsWith("cpu ")).get.trim.split("\\s+")
    // fields: user nice sys idle iowait irq softirq steal
    (cpu(5).toLong + cpu(8).toLong) / 100.0
  } catch { case _: Throwable => 0.0 }

  /** Steal+iowait RATE (cpu-s per wall second, summed over all CPUs)
    * over a short sample window — the contention preflight's evidence.
    */
  def stealRate(sampleMs: Long = 2000L): Double = {
    val s0 = stealIoSeconds(); Thread.sleep(sampleMs)
    (stealIoSeconds() - s0) / (sampleMs / 1000.0)
  }

  /** Cumulative stop-the-world GC seconds in this JVM — the OTHER
    * adjudicating evidence for a tail (r15): a stall whose own window
    * shows ~0 steal but ~1 s of GC is JVM garbage pressure, not the plan
    * under test.
    */
  private val gcBeans =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
  def gcSeconds(): Double = {
    var ms = 0L
    gcBeans.forEach(b => { val t = b.getCollectionTime; if (t > 0) ms += t })
    ms / 1000.0
  }

  /** JIT code-cache occupancy (MB) — the r14 upscale adjudication
    * instrumentation: a saturated CodeCache silently disables compilation
    * and newly generated operators run interpreted (~20×).
    */
  private val codeHeaps = java.lang.management.ManagementFactory
    .getMemoryPoolMXBeans.stream
    .filter(p => p.getName.startsWith("CodeHeap") || p.getName == "Code Cache")
    .collect(java.util.stream.Collectors
      .toList[java.lang.management.MemoryPoolMXBean])
  def codeCacheMb: Double = {
    var used = 0L
    codeHeaps.forEach(p => used += p.getUsage.getUsed)
    used / 1e6
  }

  private val jitBean =
    java.lang.management.ManagementFactory.getCompilationMXBean
  def jitMs: Long =
    if (jitBean != null && jitBean.isCompilationTimeMonitoringSupported)
      jitBean.getTotalCompilationTime else -1L

  /** Bounded deferral while the box is visibly loaded (the r16 upscale
    * preflight, shared by the gate suite since r17): sample the steal
    * rate; while it exceeds `contendedRate` cpu-s/s, wait `stepMs` and
    * re-sample, at most `maxSteps` times. Returns the final rate and how
    * many steps were taken — both belong in the round artifact so a
    * contended round self-reports the regime it measured under.
    */
  def deferWhileContended(label: String,
                          contendedRate: Double = 0.25,
                          maxSteps: Int = 3,
                          stepMs: Long = 30000L): (Double, Int) = {
    var rate = stealRate()
    var steps = 0
    while (rate > contendedRate && steps < maxSteps) {
      System.err.println(f"[bench] $label: steal rate $rate%.2f cpu-s/s > " +
        f"$contendedRate — deferring ${stepMs / 1000} s (${steps + 1}/$maxSteps)")
      Thread.sleep(stepMs); steps += 1; rate = stealRate()
    }
    (rate, steps)
  }
}
