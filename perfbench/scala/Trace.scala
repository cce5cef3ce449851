package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced layer call. `prefix` marks a prefix-only materialization
  * (a lazily composed chain cut after layer k and written to `noop`),
  * which exists only to split self times and is not pipeline work. */
final case class Span(id: Int, name: String, parent: Int, runId: String, prefix: Boolean,
    startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** Spark work attributed to one span. */
final class SpanWork {
  var jobs = 0
  var stages = 0
  var tasks = 0
  var taskRunS = 0.0
  var taskCpuS = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  var peakExecMem = 0L
  var inputBytes = 0L
  var outputBytes = 0L
  val taskIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** Span recorder plus the SparkListener that attributes jobs, stages and
  * tasks to spans. Every span sets its own job tag (and only its own:
  * the parent's tag is lifted for the span's duration), so each job
  * carries exactly one span tag and per-span counts sum to the total.
  * Spans stay in memory until [[spansJson]] writes them out. */
final class Tracer(sc: SparkContext) extends SparkListener {
  /** Stamped on every span opened from now on. */
  var runId: String = ""
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val work = new ConcurrentHashMap[Int, SpanWork]()
  @volatile private var untagged = 0
  @volatile private var jobsSeen = 0

  /** Listen only while a traced pass runs, so untraced passes pay nothing. */
  def attach(id: String): Unit = { runId = id; sc.addSparkListener(this) }
  def detach(): Unit = { drain(); sc.removeSparkListener(this) }

  private def tag(id: Int) = s"perfbench-span-$id"
  private def spanOf(props: java.util.Properties): Option[Int] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
      .collectFirst { case t if t.startsWith("perfbench-span-") => t.stripPrefix("perfbench-span-").toInt }
  private def w(id: Int): SpanWork = work.computeIfAbsent(id, _ => new SpanWork)

  def span[A](name: String, prefix: Boolean = false)(body: => A): A = {
    val parent = stack.headOption
    val s = Span(spans.size + 1, name, parent.map(_.id).getOrElse(0), runId, prefix,
      System.currentTimeMillis(), System.nanoTime())
    spans += s
    parent.foreach(p => sc.removeJobTag(tag(p.id)))
    sc.addJobTag(tag(s.id))
    stack = s :: stack
    try body
    finally {
      s.endNs = System.nanoTime()
      stack = stack.tail
      sc.removeJobTag(tag(s.id))
      parent.foreach(p => sc.addJobTag(tag(p.id)))
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobsSeen += 1
    spanOf(e.properties) match {
      case Some(id) =>
        w(id).jobs += 1
        e.stageIds.foreach(st => stageSpan.putIfAbsent(st, id))
      case None => untagged += 1
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
      val s = w(id)
      s.stages += 1
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        s.peakExecMem = math.max(s.peakExecMem, m.peakExecutionMemory)
        s.inputBytes += m.inputMetrics.bytesRead
        s.outputBytes += m.outputMetrics.bytesWritten
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    Option(stageSpan.get(e.stageId)).foreach { id =>
      val s = w(id)
      s.tasks += 1
      if (e.taskMetrics != null) {
        s.taskRunS += e.taskMetrics.executorRunTime / 1e3
        s.taskCpuS += e.taskMetrics.executorCpuTime / 1e9
      }
      s.taskIntervals += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
    }
  }

  /** Block until the listener has seen every event posted so far. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(sc)

  def all: Seq[Span] = spans.toSeq
  def workOf(id: Int): SpanWork = Option(work.get(id)).getOrElse(new SpanWork)
  def untaggedJobs: Int = untagged
  def totalJobs: Int = jobsSeen

  def spansJson: Seq[String] = synchronized {
    spans.toSeq.map { s =>
      val k = workOf(s.id)
      f"""{"run_id":"${s.runId}","id":${s.id},"parent":${s.parent},"name":"${s.name}","prefix":${s.prefix},""" +
        f""""start_ms":${s.startMs},"end_ms":${s.endMs},"seconds":${s.seconds}%.6f,"jobs":${k.jobs},""" +
        f""""stages":${k.stages},"tasks":${k.tasks},"task_cpu_s":${k.taskCpuS}%.4f}"""
    }
  }
}

object Tracer {
  /** Length of the union of [lo, hi) intervals clipped to the window. */
  def unionMs(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var covered = 0L
    var end = lo
    for ((a, b) <- intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (b > end) { covered += b - math.max(a, end); end = b }
    }
    covered
  }

  /** Self time of each layer of a lazily composed chain, from the
    * wall times of its successive prefixes: layer k costs
    * prefix_k − prefix_{k−1}. */
  def selfTimes(prefixSeconds: Seq[Double]): Seq[Double] =
    prefixSeconds.indices.map(k => prefixSeconds(k) - (if (k == 0) 0.0 else prefixSeconds(k - 1)))
}
