package perfbench

import graft.infra.{Span, Tracer}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import java.lang.management.ManagementFactory
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** A completed span plus the thread it ran on. Spans nest by thread and
  * interval: the program's Tracer names only the parent, so the thread
  * is what separates two jobs running at once under a batch.
  */
final case class TSpan(span: Span, thread: String) {
  def name: String = span.name
  def start: Long = span.startNanos
  def end: Long = span.endNanos
  def seconds: Double = (end - start) / 1e9
}

/** One Spark job as the listener saw it. Times are System.nanoTime,
  * converted from the listener's wall-clock millis.
  */
final case class SparkJob(id: Int, start: Long, end: Long, thread: Option[String],
    stages: Seq[Int])

final case class StageStats(tasks: Int, runMs: Long, cpuNs: Long,
    shuffleWriteBytes: Long, spillBytes: Long)

/** Span recorder + benchmark-registered SparkListener for the traced run.
  *
  * Every Spark job is tagged with the thread that submitted it: a local
  * property set before each call into the program, which the batch
  * runner's worker threads carry the same way they carry the
  * `spark.scheduler.pool` it sets per job. A job is then attributed to
  * the innermost span open on that thread when it was submitted.
  */
final class Trace(spark: SparkSession) {
  private val spans = mutable.ArrayBuffer.empty[TSpan]
  private val jobs = mutable.Map.empty[Int, SparkJob]
  private val stages = mutable.Map.empty[Int, StageStats]
  // wall-clock millis → nanoTime, for listener event times
  private val offsetNanos = System.nanoTime() - System.currentTimeMillis() * 1000000L

  val tracer: Tracer = new Tracer(s => spans.synchronized {
    spans += TSpan(s, Thread.currentThread().getName)
  })

  /** Run `body` inside a benchmark span on this thread, tagging the
    * Spark jobs it submits with the thread name.
    */
  def span[T](name: String)(body: => T): T = {
    spark.sparkContext.setLocalProperty(Trace.ThreadProp, Thread.currentThread().getName)
    tracer.span(name)(body)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      jobs(e.jobId) = SparkJob(e.jobId, e.time * 1000000L + offsetNanos, Long.MaxValue,
        Option(e.properties).flatMap(p => Option(p.getProperty(Trace.ThreadProp))),
        e.stageIds)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobs.get(e.jobId).foreach(j =>
        jobs(e.jobId) = j.copy(end = e.time * 1000000L + offsetNanos))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val m = info.taskMetrics
      val st =
        if (m == null) StageStats(info.numTasks, 0L, 0L, 0L, 0L)
        else StageStats(info.numTasks, m.executorRunTime, m.executorCpuTime,
          m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled)
      stages.synchronized { stages(info.stageId) = st }
    }
  }
  spark.sparkContext.addSparkListener(listener)

  /** Drain the listener bus so every event of finished work is counted. */
  def settle(): Unit =
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext, 30000L)

  def stop(): Unit = { settle(); spark.sparkContext.removeSparkListener(listener) }

  def allSpans: Seq[TSpan] = spans.synchronized(spans.toVector)

  /** Spans of `root` and everything nested in it on the same thread. */
  def within(root: TSpan): Seq[TSpan] = allSpans.filter(s =>
    s.thread == root.thread && s.start >= root.start && s.end <= root.end)

  /** Spark jobs submitted from `root`'s thread while it was open. */
  def sparkJobs(root: TSpan): Seq[SparkJob] = jobs.synchronized(jobs.values.toVector)
    .filter(j => j.thread.contains(root.thread) && j.start >= root.start && j.start <= root.end)
    .sortBy(_.id)

  /** The innermost span open on the job's thread when it was submitted. */
  def owner(j: SparkJob, among: Seq[TSpan]): Option[TSpan] =
    among.filter(s => j.thread.contains(s.thread) && s.start <= j.start && j.start <= s.end)
      .minByOption(s => s.end - s.start)

  def stageTotals(js: Seq[SparkJob]): StageStats = {
    val ss = stages.synchronized(js.flatMap(_.stages).distinct.flatMap(stages.get))
    StageStats(ss.map(_.tasks).sum, ss.map(_.runMs).sum, ss.map(_.cpuNs).sum,
      ss.map(_.shuffleWriteBytes).sum, ss.map(_.spillBytes).sum)
  }

  def stageCount(js: Seq[SparkJob]): Int = stages.synchronized(
    js.flatMap(_.stages).distinct.count(stages.contains))
}

object Trace {
  val ThreadProp = "perfbench.thread"

  /** Length of the union of intervals. */
  def unionNanos(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** A span's duration minus the part its direct children cover. */
  def selfNanos(s: TSpan, nested: Seq[TSpan]): Long = {
    val children = nested.filter(c => c != s && c.span.parent.contains(s.name))
    (s.end - s.start) - unionNanos(children.map(c => (c.start, c.end)))
  }

  /** Process-wide JVM counters: GC time, JIT time, Janino compiles. */
  final case class Jvm(gcMs: Long, jitMs: Long, janino: Long) {
    def -(o: Jvm): Jvm = Jvm(gcMs - o.gcMs, jitMs - o.jitMs, janino - o.janino)
  }

  def jvm(): Jvm = Jvm(
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum,
    Option(ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported)
      .map(_.getTotalCompilationTime).getOrElse(0L),
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount)
}
