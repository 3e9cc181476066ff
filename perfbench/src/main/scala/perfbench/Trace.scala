package perfbench

import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Spans and Spark counters recorded from outside the program. Spans
  * mark the benchmark's calls into each layer; the listener records every
  * Spark job and task. Both stay in memory and are written out when the
  * run ends. With one call in flight at a time, a job belongs to the
  * spans whose interval holds its start.
  */
final class Trace(val enabled: Boolean) {
  import Trace._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicLong(1)
  private val current = new ThreadLocal[Option[Long]] { override def initialValue() = None }
  private val suspended = new ThreadLocal[Boolean] { override def initialValue() = false }
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, Job]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val started = new AtomicLong(); private val ended = new AtomicLong()

  /** Time `body` as a span named `name` of metric class `cls`, nested
    * under the calling thread's open span. Recorded only when enabled.
    */
  def span[A](name: String, cls: String = "", request: Long = 0L)(body: => A): A =
    if (!recording) body
    else {
      val id = nextId.getAndIncrement()
      val parent = current.get()
      current.set(Some(id))
      val s0 = nowMs()
      try body
      finally {
        spans.add(Span(id, name, cls, s0, nowMs(), parent.getOrElse(0L), request))
        current.set(parent)
      }
    }

  /** True when spans are being recorded on this thread. */
  def recording: Boolean = enabled && !suspended.get()

  /** Run `body` with span recording off on this thread. */
  def off[A](body: => A): A = {
    val was = suspended.get()
    suspended.set(true)
    try body finally suspended.set(was)
  }

  val listener: SparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      started.incrementAndGet()
      jobs.put(e.jobId, Job(e.jobId, e.time.toDouble, Double.NaN))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time.toDouble))
      ended.incrementAndGet()
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null && stageJob.containsKey(e.stageId))
        jobs.computeIfPresent(stageJob.get(e.stageId), (_, j) =>
        j.copy(taskMs = j.taskMs + m.executorRunTime,
          shuffleBytes = j.shuffleBytes + m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten,
          inputBytes = j.inputBytes + m.inputMetrics.bytesRead,
          inputRecords = j.inputRecords + m.inputMetrics.recordsRead))
    }
  }

  /** Wait until the listener has seen the end of every job it saw start. */
  def drain(timeoutMs: Long = 20000L): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (ended.get() < started.get() && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    require(ended.get() >= started.get(),
      s"listener saw ${started.get()} jobs start but only ${ended.get()} end")
    Thread.sleep(200) // task-end events of the last job trail its job-end
  }

  def allSpans: Seq[Span] = spans.asScala.toSeq.sortBy(_.startMs)
  def allJobs: Seq[Job] = jobs.values().asScala.toSeq.sortBy(_.startMs)

  /** Jobs that started inside the span, its child spans included. */
  def jobsOf(s: Span): Seq[Job] = allJobs.filter(j => s.holds(j.startMs))

  def write(path: java.nio.file.Path): Unit = {
    java.nio.file.Files.createDirectories(path.getParent)
    val lines = allSpans.map(s =>
      f"""{"span":${s.id},"name":"${s.name}","cls":"${s.cls}","start_ms":${s.startMs}%.3f,""" +
        f""""end_ms":${s.endMs}%.3f,"parent":${s.parent},"request":${s.request}}""") ++
      allJobs.map(j =>
        f"""{"job":${j.id},"start_ms":${j.startMs}%.0f,"end_ms":${j.endMs}%.0f,""" +
          s""""task_ms":${j.taskMs},"shuffle_bytes":${j.shuffleBytes},""" +
          s""""input_bytes":${j.inputBytes},"input_records":${j.inputRecords}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Trace {
  final case class Span(id: Long, name: String, cls: String, startMs: Double,
      endMs: Double, parent: Long, request: Long) {
    def wallS: Double = (endMs - startMs) / 1000
    // Spark stamps job events in whole milliseconds
    def holds(ms: Double): Boolean = ms >= math.floor(startMs) && ms <= math.ceil(endMs)
  }
  final case class Job(id: Int, startMs: Double, endMs: Double, taskMs: Long = 0L,
      shuffleBytes: Long = 0L, inputBytes: Long = 0L, inputRecords: Long = 0L)

  /** Wall-clock milliseconds with sub-millisecond resolution, on the
    * same clock Spark stamps its job events with.
    */
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Spark counters over a set of spans of one class. */
  final case class SparkCost(jobs: Double, jobS: Double, driverS: Double,
      taskS: Double, slotUse: Double, shuffleBytes: Double, inputBytes: Double)

  def sparkCost(t: Trace, ss: Seq[Span], cores: Int): SparkCost = {
    val per = ss.map { s =>
      val js = t.jobsOf(s)
      val jobS = Stats.unionLength(js.map(j =>
        (math.max(j.startMs, s.startMs).toLong, math.min(j.endMs, s.endMs).toLong))
        .filter { case (a, b) => b > a }) / 1000.0
      (s.wallS, js.size.toDouble, jobS, js.map(_.taskMs).sum / 1000.0,
        js.map(_.shuffleBytes).sum.toDouble, js.map(_.inputBytes).sum.toDouble)
    }
    val n = math.max(per.size, 1).toDouble
    val wall = per.map(_._1).sum
    val task = per.map(_._4).sum
    SparkCost(per.map(_._2).sum / n, per.map(_._3).sum / n,
      per.map(p => p._1 - p._3).sum / n, task / n,
      if (wall > 0) task / (wall * cores) else 0.0,
      per.map(_._5).sum / n, per.map(_._6).sum / n)
  }
}
