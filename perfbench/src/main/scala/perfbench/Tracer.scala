package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Counters of the Spark work done under one span. */
final class SpanCounters {
  var jobs = 0
  var stages = 0
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  /** Wall-clock [submitted, completed] of each finished stage, ms. */
  val stageIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
}

/** One timed call into a layer, recorded by the harness. */
final case class Span(name: String, parent: String, startMs: Long, endMs: Long) {
  def wallS: Double = (endMs - startMs) / 1000.0
}

/** Task-level tracing for the traced run: a SparkListener that files
  * every job under the job group the harness set around the call that
  * submitted it, plus the harness's own spans. A job whose group the
  * engine set itself (`stageAll` chains, a streaming query's thread)
  * is filed under the span the harness is in. Registered only when
  * `--trace 1`. */
final class Tracer extends SparkListener {
  @volatile private var current = "none"
  private val stageSpan = new ConcurrentHashMap[Int, String]()
  private val bySpan = new ConcurrentHashMap[String, SpanCounters]()
  private val spanLog = mutable.ArrayBuffer.empty[Span]
  private val opened = ConcurrentHashMap.newKeySet[String]()

  private def acc(span: String): SpanCounters =
    bySpan.computeIfAbsent(span, _ => new SpanCounters)

  /** Runs `body` as span `name` under `parent`, with the Spark job
    * group set to `name` so every job it submits is filed there. */
  def span[T](spark: SparkSession, name: String, parent: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
    val prev = current
    sc.setJobGroup(name, name, interruptOnCancel = false)
    opened.add(name)
    current = name
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spanLog.synchronized(spanLog += Span(name, parent, t0, System.currentTimeMillis()))
      current = prev
      if (prevGroup == null) sc.clearJobGroup()
      else sc.setJobGroup(prevGroup, prevGroup, interruptOnCancel = false)
    }
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .filter(opened.contains).getOrElse(current)
    acc(group).synchronized(acc(group).jobs += 1)
    e.stageIds.foreach(stageSpan.putIfAbsent(_, group))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    val c = acc(stageSpan.getOrDefault(info.stageId, current))
    c.synchronized {
      c.stages += 1
      for (s <- info.submissionTime; d <- info.completionTime) c.stageIntervals += ((s, d))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val c = acc(stageSpan.getOrDefault(e.stageId, current))
    val m = e.taskMetrics
    c.synchronized {
      c.tasks += 1
      if (m != null) {
        c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  def spans: Seq[Span] = spanLog.synchronized(spanLog.toList)

  /** Counters of `span`, after the listener bus has delivered every
    * event posted so far. */
  def counters(spark: SparkSession, span: String): SpanCounters = {
    Tracer.drain(spark)
    bySpan.getOrDefault(span, new SpanCounters)
  }

  /** Intervals of every finished stage, whatever span it ran under. */
  def allStageIntervals(spark: SparkSession): Seq[(Long, Long)] = {
    Tracer.drain(spark)
    bySpan.values().asScala.toSeq.flatMap(c => c.synchronized(c.stageIntervals.toList))
  }
}

object Tracer {
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerBusAccess.waitUntilEmpty(spark.sparkContext)

  /** Milliseconds of [start, end] covered by none of `intervals`. */
  def uncoveredMs(start: Long, end: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = start
    intervals.map { case (s, e) => (math.max(s, start), math.min(e, end)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    (end - start) - covered
  }
}
