package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Per-layer costs measured from outside the engine. The benchmark wraps
  * each call into a layer in [[Trace.span]]; a Spark listener records every
  * job, and each job is charged to the span whose call submitted it (a
  * local property the client thread sets, which threads the call starts
  * inherit) or, for jobs of a streaming query's own thread, to the span
  * running when the job started. Spans and events stay in memory and are
  * attributed once, when the run ends. */
final class Trace(sc: SparkContext) {
  import Trace._

  private case class Job(id: Int, start: Long, span: Option[Int], stages: Seq[Int]) {
    @volatile var end: Long = -1
  }
  private final class Io { var cpuNs, inB, shufB, outB = 0L }

  private val jobs = new ConcurrentLinkedQueue[Job]()
  private val stageIo = new java.util.concurrent.ConcurrentHashMap[Int, Io]()
  /** (name, start ms, end ms, wall ns, returned) of every call. */
  private val spans = mutable.ArrayBuffer.empty[(String, Long, Long, Long, Boolean)]
  private val progress = new ConcurrentLinkedQueue[(Long, Map[String, Long])]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toInt)
      jobs.add(Job(e.jobId, e.time, tag, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      jobs.asScala.find(_.id == e.jobId).foreach(_.end = e.time)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      val io = stageIo.computeIfAbsent(e.stageId, _ => new Io)
      io.synchronized {
        io.cpuNs += m.executorCpuTime
        io.inB += m.inputMetrics.bytesRead
        io.shufB += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        io.outB += m.outputMetrics.bytesWritten
      }
    }
  }
  sc.addSparkListener(listener)

  /** Per micro-batch streaming durations (addBatch, queryPlanning,
    * walCommit), stamped with the time its trigger started. */
  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        progress.add(java.time.Instant.parse(e.progress.timestamp).toEpochMilli ->
          e.progress.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap)
  }

  /** Runs `body` as one call of `name` (`layer.op`). A call that throws
    * still owns its jobs but gives no measure. */
  def span[T](name: String)(body: => T): T = {
    val id = spans.size
    sc.setLocalProperty(SpanKey, id.toString)
    val (t0, n0) = (System.currentTimeMillis(), System.nanoTime())
    var returned = false
    try { val v = body; returned = true; v } finally {
      spans += ((name, t0, System.currentTimeMillis(), System.nanoTime() - n0, returned))
      sc.setLocalProperty(SpanKey, null)
    }
  }

  /** Waits until the listener has seen every job end: a marker job's end
    * event queues behind all earlier events. */
  private def drain(): Unit = {
    sc.setLocalProperty(SpanKey, null)
    val before = jobs.size
    sc.parallelize(Seq(1), 1).count()
    val deadline = System.currentTimeMillis() + 30000
    while (System.currentTimeMillis() < deadline &&
      !(jobs.size > before && jobs.asScala.forall(_.end >= 0))) Thread.sleep(20)
  }

  /** Median of each measure over the calls that returned, as
    * `layer.op.measure` -> value; NaN for an op none of whose calls did. */
  def report(): Map[String, Double] = {
    drain()
    val all = jobs.asScala.toSeq.filter(_.end >= 0)
    val calls = spans.zipWithIndex.map { case ((name, t0, t1, nanos, returned), i) =>
      val mine = all.filter(j => j.span match {
        case Some(s) => s == i
        case None => j.start >= t0 && j.start <= t1 &&
          !spans.indices.exists(k => k > i && spans(k)._2 <= j.start)
      })
      val io = mine.flatMap(_.stages).distinct.flatMap(s => Option(stageIo.get(s)))
      // Spark-driver time between jobs: call time no job interval covers
      val covered = mine.map(j => (math.max(j.start, t0), math.min(j.end, t1)))
        .filter(c => c._2 > c._1).sortBy(_._1)
        .foldLeft((0L, t0)) { case ((sum, upTo), (a, b)) =>
          if (b <= upTo) (sum, upTo) else (sum + b - math.max(a, upTo), b)
        }._1
      val base = Map(
        "wall_ms" -> nanos / 1e6,
        "jobs" -> mine.size.toDouble,
        "gap_ms" -> (t1 - t0 - covered).toDouble,
        "exec_cpu_ms" -> io.map(_.cpuNs).sum / 1e6,
        "input_mb" -> io.map(_.inB).sum / 1e6,
        "shuffle_mb" -> io.map(_.shufB).sum / 1e6,
        "output_mb" -> io.map(_.outB).sum / 1e6)
      val stream = progress.asScala.filter(p => p._1 >= t0 && p._1 <= t1)
        .headOption.map(_._2).getOrElse(Map.empty)
      (name, returned, base ++ Seq("addBatch" -> "add_batch_ms", "queryPlanning" -> "query_planning_ms",
        "walCommit" -> "wal_commit_ms").map { case (k, m) => m -> stream.getOrElse(k, 0L).toDouble })
    }
    calls.groupBy(_._1).toSeq.flatMap { case (name, cs) =>
      val ok = cs.filter(_._2).map(_._3).toSeq
      cs.head._3.keys.map(m => s"$name.$m" -> median(ok.map(_(m))))
    }.toMap
  }
}

object Trace {
  val SpanKey = "perfbench.span"

  /** NaN for no sample: an empty sample is never a time. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
