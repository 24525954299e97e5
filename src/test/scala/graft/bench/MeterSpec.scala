package graft.bench

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

/** The per-query Spark counter behind the bench's `layers` block: work is
  * attributed to the job group it ran under, a group that ran nothing
  * reads zeros, and a read made right after an action (no sleep) already
  * holds all of that action's events.
  */
class MeterSpec extends SparkSpec with BeforeAndAfterAll {

  private lazy val counter = new Meter.SparkCounter(spark.sparkContext)

  // later suites share this session; they must not be counted
  override def afterAll(): Unit = {
    counter.close()
    super.afterAll()
  }

  private def runIn(group: String)(df: => DataFrame): Unit = {
    spark.sparkContext.setJobGroup(group, group)
    try df.write.format("noop").mode("overwrite").save()
    finally spark.sparkContext.clearJobGroup()
  }

  test("work is counted per job group: scan, shuffle, and a group that " +
    "ran nothing") {
    counter // attach before any counted action
    runIn("MeterSpec-scan")(
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity")))
    runIn("MeterSpec-shuffle")(
      spark.range(0, 20000, 1, 4).groupBy(col("id") % 7).count())
    // read immediately after the action: the read itself is the barrier
    val work = counter.read()
    val scan = work("MeterSpec-scan")
    val shuffle = work("MeterSpec-shuffle")
    for ((name, w) <- Seq("scan" -> scan, "shuffle" -> shuffle)) {
      assert(w.jobs >= 1, s"$name: $w")
      assert(w.stages >= 1 && w.tasks >= 1, s"$name: $w")
      assert(w.planS > 0 && w.execS > 0, s"$name: $w")
    }
    assert(scan.inputMb > 0, s"a parquet scan reads input: $scan")
    assert(scan.shuffleMb == 0, s"a plain scan has no shuffle: $scan")
    assert(shuffle.shuffleMb > 0, s"a multi-partition groupBy shuffles: $shuffle")
    assert(work("MeterSpec-idle") == Meter.Work.zero)
  }

  test("a read right after each action already holds all of its events") {
    // a listener that holds up the shared bus on every job start, so each
    // action returns while its stage events still queue behind it
    val lag = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = Thread.sleep(300)
    }
    spark.sparkContext.addSparkListener(lag)
    // the same plan each run: a read that missed the last run's late
    // events would show fewer jobs or stages than runs × the first run's
    val reads = try (1 to 3).map { _ =>
      runIn("MeterSpec-repeat")(
        spark.range(0, 20000, 1, 4).groupBy(col("id") % 5).count())
      counter.read()("MeterSpec-repeat")
    } finally spark.sparkContext.removeSparkListener(lag)
    val first = reads.head
    assert(first.jobs >= 1 && first.stages >= 2, s"$first")
    reads.zipWithIndex.foreach { case (w, i) =>
      assert(w.jobs == first.jobs * (i + 1) &&
        w.stages == first.stages * (i + 1) &&
        w.tasks == first.tasks * (i + 1), s"read ${i + 1}: $w after $first")
    }
  }
}
