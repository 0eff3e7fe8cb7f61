package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** One benchmark run: the client's operation accounting, the timed closed
  * loop, the correctness checks and the metrics it reports. Everything runs
  * on the one client thread. */
final class Run(val spark: SparkSession, val work: String, val seed: Long,
    val seconds: Double, val trace: Option[Trace]) {

  var attempted = 0L
  var failed = 0L
  private val problems = mutable.ArrayBuffer.empty[String]
  private var checks = 0L
  val metrics = mutable.LinkedHashMap.empty[String, Double]

  /** Set-up phases, in seconds, for the stderr breakdown of `setup_s`. */
  val setupParts = mutable.LinkedHashMap.empty[String, Double]

  /** Wall-clock milliseconds at the start of the first timed operation. */
  private var firstTimedMs = -1L

  /** JVM start to the first timed operation, in seconds: everything before
    * the measured rounds, the oracle's own preparation included. */
  def setupSeconds: Double =
    if (firstTimedMs < 0) Double.NaN else (firstTimedMs - Run.jvmStartMs()) / 1e3

  def correct: Boolean = problems.isEmpty

  def check(ok: Boolean, what: => String): Unit = {
    checks += 1
    if (!ok) {
      if (problems.size < 20) System.err.println(s"CHECK FAILED: $what")
      problems += what
    }
  }

  /** One engine operation: counted as attempted, and as failed when it
    * throws. A failed operation yields no value and no time. */
  def op[T](name: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch { case NonFatal(e) =>
      failed += 1
      System.err.println(s"operation $name failed: $e")
      None
    }
  }

  /** `body` as one traced call into a layer (`layer.op`); untraced runs
    * call it directly. */
  def call[T](name: String)(body: => T): T = trace match {
    case Some(t) => t.span(name)(body)
    case None => body
  }

  /** Runs whole rounds until `seconds` have passed. A round returns the wall
    * and CPU nanoseconds of its operations (checks excluded), or None when
    * one failed; a failed round gives no time. `round_cpu_ms` is the median
    * over the rounds that completed, NaN when none did, so that such a run
    * reports no time at all. There is no untimed warm-up: a round costs
    * about as much as the set-up, and the runs must stay short, so the
    * first round is timed like the rest. */
  def loop(round: Int => Option[(Long, Long)]): Unit = {
    val walls = mutable.ArrayBuffer.empty[Double]
    val cpus = mutable.ArrayBuffer.empty[Double]
    val start = System.nanoTime()
    var i = 0
    while ((System.nanoTime() - start) / 1e9 < seconds) {
      round(i).foreach { case (w, c) => walls += w / 1e6; cpus += c / 1e6 }
      i += 1
    }
    System.err.println(f"rounds: $i%d, completed: ${walls.size}%d, wall ms: ${walls.map(w => f"$w%.0f").mkString(" ")}")
    metrics("round_cpu_ms") = Trace.median(cpus.toSeq)
  }

  /** Times a sequence of operations as one round: sums wall and process
    * CPU over the `timed` blocks only. */
  final class Round {
    var wall = 0L
    var cpu = 0L
    var ok = true
    def timed[T](name: String)(body: => T): Option[T] = {
      if (firstTimedMs < 0) firstTimedMs = System.currentTimeMillis()
      val (c0, t0) = (Run.cpuNs(), System.nanoTime())
      val r = op(name)(body)
      wall += System.nanoTime() - t0
      cpu += Run.cpuNs() - c0
      if (r.isEmpty) ok = false
      r
    }
    def result: Option[(Long, Long)] = if (ok) Some((wall, cpu)) else None
  }

  /** Times `body` as the set-up phase `name`. */
  def setup[T](name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally setupParts(name) = setupParts.getOrElse(name, 0.0) + (System.nanoTime() - t0) / 1e9
  }

  /** Bytes of the files a DataFrame reads, over the raw float bytes of
    * `rows` vectors of `dim` floats. */
  def bytesPerVectorByte(df: org.apache.spark.sql.DataFrame, rows: Long, dim: Int): Double = {
    val conf = spark.sparkContext.hadoopConfiguration
    val bytes = df.inputFiles.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      p.getFileSystem(conf).getFileStatus(p).getLen
    }.sum
    bytes.toDouble / (rows * dim * 4.0)
  }

  def summary(): String =
    s"checks: $checks, failed checks: ${problems.size}, ops: $attempted, failed ops: $failed"
}

object Run {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** Process CPU time: Spark task threads, the client, JIT and GC together. */
  def cpuNs(): Long = os.getProcessCpuTime

  def jvmStartMs(): Long = ManagementFactory.getRuntimeMXBean.getStartTime
}
