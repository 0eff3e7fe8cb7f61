package perfbench

import org.apache.spark.sql.SparkSession

/** Benchmark entry point, started by `perfbench/run.py`:
  *
  * {{{
  *   Main --workload ingest|serve|churn --seed N --seconds S --trace 0|1 --work DIR
  * }}}
  *
  * Prints one JSON line, `{"correct", "attempted", "failed", "metrics"}`,
  * with plain metric values; run.py attaches units and picks the metrics of
  * the run's kind. Everything else goes to stderr. */
object Main {

  /** Spark task threads, client threads (one) and shards all stay at or
    * below the host's processors, so the load measures the engine rather
    * than the scheduler. */
  private def cpus(): Int = Runtime.getRuntime.availableProcessors()

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = opts.getOrElse("workload", "")
    require(Set("ingest", "serve", "churn")(workload), s"unknown workload '$workload'")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts.getOrElse("trace", "0") == "1"
    val work = opts("work")

    Oracle.selfTest()
    val threads = math.max(1, math.min(3, cpus()))
    val spark = SparkSession.builder()
      .master(s"local[$threads]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", threads)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val run = new Run(spark, work, seed, seconds, if (traced) Some(new Trace(spark.sparkContext)) else None)
    run.setupParts("session") = (System.currentTimeMillis() - Run.jvmStartMs()) / 1e3
    try {
      workload match {
        case "ingest" => IngestWorkload.run(run)
        case "serve" => ServeWorkload.run(run, corpus = 8000, shards = math.min(2, cpus()))
        case "churn" => ChurnWorkload.run(run, frozenRows = 2000, epochs = math.min(2, cpus()))
      }
      run.metrics("setup_s") = run.setupSeconds
      System.err.println(f"setup: ${run.setupSeconds}%.2fs, of which " +
        run.setupParts.map { case (k, v) => f"$k=$v%.2fs" }.mkString(" "))
      run.trace.foreach(t => run.metrics ++= t.report())
      System.err.println(run.summary())
      val ms = run.metrics.map { case (k, v) => s""""$k":$v""" }.mkString(",")
      println(s"""{"correct":${run.correct},"attempted":${run.attempted},"failed":${run.failed},"metrics":{$ms}}""")
    } finally spark.stop()
  }
}
