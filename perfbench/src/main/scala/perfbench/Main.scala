package perfbench

import org.apache.spark.sql.SparkSession

/** What every workload gets: the session, its inputs' seed, the timed
  * budget, the trace switch, a scratch directory inside the checkout and
  * the load/parallelism width (`nproc`).
  */
final case class Ctx(spark: SparkSession, seed: Long, seconds: Double,
                     trace: Boolean, work: String, cores: Int,
                     counters: Option[SparkCounters]) {
  def path(name: String): String = s"$work/$name"
}

/** Entry point `run.py` launches:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>`.
  * Prints one line `PERFBENCH <json>` (see [[Report]]) and exits.
  */
object Main {

  val Workloads: Map[String, Ctx => Report] = Map(
    "api" -> ApiBench.run,
    "batch_queries" -> BatchBench.run)

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts.getOrElse("workload", "")
    val body = Workloads.getOrElse(workload, {
      System.err.println(s"unknown workload '$workload'; known: " +
        Workloads.keys.toSeq.sorted.mkString(", "))
      sys.exit(2)
    })
    val cores = Runtime.getRuntime.availableProcessors
    val work = opts("work")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", (64 * 1024 * 1024).toString)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val counters =
      if (opts.getOrElse("trace", "0") == "1") {
        val c = new SparkCounters
        spark.sparkContext.addSparkListener(c)
        Some(c)
      } else None
    val ctx = Ctx(spark, opts("seed").toLong, opts("seconds").toDouble,
      counters.isDefined, work, cores, counters)
    val report =
      try body(ctx)
      finally spark.stop()
    println("PERFBENCH " + report.json)
  }
}
