package perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Spans recorded from the benchmark's side of each layer boundary. Kept
  * in memory, written once at the end. A disabled recorder only runs the
  * body, so untraced runs pay nothing. Used from the loop's thread only. */
final class Spans(val enabled: Boolean) {
  import Spans.Span

  val all = ArrayBuffer.empty[Span]
  private var open = List(0) // 0 = no parent
  private var lastId = 0
  private def nextId(): Int = { lastId += 1; lastId }

  def apply[T](name: String, op: Int)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val parent = open.head
      val t0 = System.nanoTime()
      open = id :: open
      try body
      finally {
        open = open.tail
        add(id, parent, op, name, t0, System.nanoTime())
      }
    }

  private def add(id: Int, parent: Int, op: Int, name: String, s: Long, e: Long): Unit =
    all += Span(id, parent, op, name, s, e)

  /** Record a finished child of the innermost open span (a span whose
    * bounds were measured elsewhere: the generator thread, a progress
    * report). Returns its id so it can parent further children. */
  def child(name: String, op: Int, startNs: Long, endNs: Long, parent: Int = -1): Int =
    if (!enabled) 0
    else {
      val id = nextId()
      add(id, if (parent >= 0) parent else open.head, op, name, startNs, endNs)
      id
    }

  /** Self time per span name: duration minus the time its children cover. */
  def selfTimes: Seq[(String, Int, Double, Double)] = {
    val childNs = all.groupBy(_.parent).view.mapValues(_.map(s => s.endNs - s.startNs).sum)
    all.groupBy(_.name).toSeq.map { case (name, ss) =>
      val total = ss.map(s => s.endNs - s.startNs).sum
      val self = ss.map(s => s.endNs - s.startNs - childNs.getOrElse(s.id, 0L)).sum
      (name, ss.size, total / 1e6, self / 1e6)
    }.sortBy(-_._4)
  }

  def json: String = all.sortBy(_.startNs).map(s =>
    s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":"${s.name}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}""").mkString("[\n", ",\n", "\n]\n")
}

object Spans {
  final case class Span(id: Int, parent: Int, op: Int, name: String,
      startNs: Long, endNs: Long)
}

/** Spark-side counters from the public listener APIs: scheduler events
  * and each batch action's planning phases (`QueryExecution.tracker`).
  * Only work that starts inside [fromMs, untilMs) counts, whenever the
  * asynchronous listener bus delivers it. Jobs started under the
  * `perfbench.phase` local property are also tallied per phase. */
final class SparkStats extends SparkListener with QueryExecutionListener {
  final class Acc {
    @volatile var jobs, stages, tasks = 0L
    @volatile var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite = 0L
    @volatile var bytesRead, recordsRead = 0L
  }
  val total = new Acc
  private val phaseOfStage = new ConcurrentHashMap[Int, String]
  val byPhase = new ConcurrentHashMap[String, Acc]
  val jobIntervals = ArrayBuffer.empty[(Long, Long)]
  private val jobStartMs = new ConcurrentHashMap[Int, Long]
  @volatile var planningMs = 0L
  @volatile var fenceSeen = false
  @volatile var fromMs, untilMs = Long.MaxValue

  private def accs(stage: Int, startMs: Long): Seq[Acc] =
    if (startMs < fromMs || startMs >= untilMs) Nil
    else total +: Option(phaseOfStage.get(stage))
      .map(p => byPhase.computeIfAbsent(p, _ => new Acc)).toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs.put(e.jobId, e.time)
    val phase = Option(e.properties).flatMap(p => Option(p.getProperty(SparkStats.PhaseKey)))
    phase.foreach(p => e.stageIds.foreach(phaseOfStage.put(_, p)))
    accs(e.stageIds.headOption.getOrElse(-1), e.time).foreach(_.jobs += 1)
    if (phase.contains(SparkStats.Fence)) fenceSeen = true
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    Option(jobStartMs.remove(e.jobId)).foreach(s => jobIntervals += ((s, e.time)))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    accs(e.stageInfo.stageId, e.stageInfo.submissionTime.getOrElse(0L)).foreach(_.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    accs(e.stageId, e.taskInfo.launchTime).foreach { a =>
      a.tasks += 1
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.gcMs += m.jvmGCTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.bytesRead += m.inputMetrics.bytesRead
        a.recordsRead += m.inputMetrics.recordsRead
      }
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      val ps = qe.tracker.phases.values
      if (ps.nonEmpty) {
        val start = ps.map(_.startTimeMs).min
        if (start >= fromMs && start < untilMs)
          planningMs += ps.map(p => p.endTimeMs - p.startTimeMs).sum
      }
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** Wall time covered by at least one job, between two instants. */
  def jobUnionMs(fromMs: Long, toMs: Long): Long = synchronized {
    var covered = 0L
    var end = Long.MinValue
    jobIntervals.map { case (s, e) => (math.max(s, fromMs), math.min(e, toMs)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s >= end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
    covered
  }

  /** Run a marker job and wait until the (FIFO) listener bus has
    * delivered it: every earlier event has then been counted too. */
  def drain(spark: SparkSession): Unit = {
    spark.sparkContext.setLocalProperty(SparkStats.PhaseKey, SparkStats.Fence)
    spark.range(1).count()
    spark.sparkContext.setLocalProperty(SparkStats.PhaseKey, null)
    val deadline = System.nanoTime() + 30000000000L
    while (!fenceSeen && System.nanoTime() < deadline) Thread.sleep(10)
    Thread.sleep(200) // the execution listener queue runs beside the scheduler's
  }
}

object SparkStats {
  val PhaseKey = "perfbench.phase"
  val Fence = "fence"

  def install(spark: SparkSession): SparkStats = {
    val s = new SparkStats
    spark.sparkContext.addSparkListener(s)
    spark.listenerManager.register(s)
    s
  }
}
