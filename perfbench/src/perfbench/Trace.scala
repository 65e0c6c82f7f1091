package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd
import org.apache.spark.sql.perfbenchshim.Shim

/** Wall clock in epoch microseconds with `nanoTime` resolution, so spans
  * line up with Spark listener event times (epoch ms). */
object Clock {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val nano0 = System.nanoTime()
  def nowUs: Long = baseUs + (System.nanoTime() - nano0) / 1000L
}

/** Order statistics over one run's samples. */
object Stats {
  /** Linearly interpolated quantile `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Median, or 0 when the layer did no work of that kind. */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)

  /** The highest reporting percentile that leaves at least ten samples
    * beyond it. */
  def tailPercentile(n: Int): Option[Double] =
    Seq(99.9, 99.0, 95.0, 90.0, 75.0, 50.0).find(p => n * (1 - p / 100) >= 10)
}

/** One traced interval. `trigger` is the benchmark's trigger id (0 when the
  * span belongs to no trigger, e.g. a catalog read). */
final case class Span(id: Long, parent: Long, trigger: Long, name: String,
    startUs: Long, endUs: Long) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** In-memory span recorder. Disabled, it only runs the body; enabled, it
  * keeps every span until [[write]] at the end of the run. */
final class Tracer {
  @volatile var enabled = false
  /** The trigger in flight and its root span (one trigger client per run,
    * so flow functions running on server threads read these). */
  @volatile var trigger = 0L
  @volatile var triggerSpan = 0L
  private val ids = new AtomicLong()
  private val spans = new ConcurrentLinkedQueue[Span]()

  def newId(): Long = ids.incrementAndGet()

  def span[A](name: String, trigger: Long, parent: Long)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = newId()
      val t0 = Clock.nowUs
      try body(id)
      finally spans.add(Span(id, parent, trigger, name, t0, Clock.nowUs))
    }

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startUs).map { s =>
      s"""{"id":${s.id},"parent":${s.parent},"trigger":${s.trigger},""" +
        s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}"""
    }
    Files.write(path, lines.asJava, StandardCharsets.UTF_8)
  }
}

/** Executed metrics of one Spark job, summed over its tasks. */
final class JobRec(val jobId: Int, val group: String, val sqlExecution: Long,
    val startMs: Long) {
  @volatile var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var runMs = 0L
  var cpuNs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  def wallMs: Double = if (endMs < 0) 0.0 else (endMs - startMs).toDouble
}

/** SparkListener registered by the benchmark. Jobs are attributed to a
  * trigger by the job group the benchmark's publisher sets; planning time
  * (analysis + optimization + physical planning, from the query's
  * `QueryPlanningTracker`) by SQL execution id, which jobs carry. */
final class SparkProbe extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  val planMs = new ConcurrentHashMap[Long, Double]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    val r = new JobRec(e.jobId,
      props.flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).getOrElse(""),
      props.flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).getOrElse(-1L),
      e.time)
    jobs.put(e.jobId, r)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, r))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    Option(stageJob.get(e.stageInfo.stageId)).foreach(r => r.synchronized(r.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    for (r <- Option(stageJob.get(e.stageId)); m <- Option(e.taskMetrics))
      r.synchronized {
        r.tasks += 1
        r.runMs += m.executorRunTime
        r.cpuNs += m.executorCpuTime
        r.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case end: SparkListenerSQLExecutionEnd =>
      Option(Shim.queryExecution(end)).foreach(qe =>
        planMs.put(end.executionId, qe.tracker.phases.values.map(_.durationMs).sum.toDouble))
    case _ =>
  }
}
