package graftbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed interval at a layer boundary. `op` groups the spans of
  * one benchmark operation; `parent` names the enclosing span. */
final case class Span(name: String, op: String, parent: String,
    startNs: Long, endNs: Long)

/** Per-job-group sums of what the scheduler reports. Every benchmark
  * op runs under its own job group, so these attribute engine work to
  * the op that caused it; work from threads that never saw the group
  * (operator-internal worker pools, streaming query threads) lands
  * under the group the scheduler reports, or under "". */
final class Counts {
  var jobs, stages, tasks = 0L
  var runMs, cpuNs, shuffleWrite, shuffleRead, spill, inputBytes,
    inputRows = 0L

  def add(o: Counts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; shuffleWrite += o.shuffleWrite
    shuffleRead += o.shuffleRead; spill += o.spill; inputBytes += o.inputBytes
    inputRows += o.inputRows
  }
}

/** The traced run's recorder: spans kept in memory, scheduler counts
  * from a [[SparkListener]], planning phases from a
  * [[QueryExecutionListener]]. Nothing here is registered in an
  * untraced run. */
final class Trace extends SparkListener with QueryExecutionListener {
  val spans = new ConcurrentLinkedQueue[Span]
  private val byGroup = new ConcurrentHashMap[String, Counts]
  private val stageGroup = new ConcurrentHashMap[Int, String]
  /** planning ms per observation name (= op job group) */
  val planMs = new ConcurrentHashMap[String, java.lang.Double]

  private def counts(group: String): Counts =
    byGroup.computeIfAbsent(group, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    e.stageIds.foreach(s => stageGroup.put(s, g))
    counts(g).synchronized { counts(g).jobs += 1 }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val g = stageGroup.getOrDefault(e.stageInfo.stageId, "")
    counts(g).synchronized { counts(g).stages += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = counts(stageGroup.getOrDefault(e.stageId, ""))
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.cpuNs += m.executorCpuTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.spill += m.diskBytesSpilled
        c.inputBytes += m.inputMetrics.bytesRead
        c.inputRows += m.inputMetrics.recordsRead
      }
    }
  }

  private def recordPlanning(qe: QueryExecution): Unit = {
    val ms = qe.tracker.phases.values.map(p => p.durationMs.toDouble).sum
    qe.observedMetrics.keys.foreach(k => planMs.merge(k, ms, (a, b) => a + b))
  }
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    recordPlanning(qe)
  override def onFailure(funcName: String, qe: QueryExecution, error: Exception): Unit =
    recordPlanning(qe)

  /** Sum of the counts of every group accepted by `keep`. */
  def total(keep: String => Boolean): Counts = {
    val t = new Counts
    byGroup.asScala.foreach { case (g, c) => if (keep(g)) c.synchronized(t.add(c)) }
    t
  }

  def clearCounts(): Unit = { byGroup.clear(); stageGroup.clear() }

  /** Spans as JSON lines, one per span. */
  def spanLines: Iterator[String] = spans.asScala.iterator.map { s =>
    s"""{"name":"${s.name}","op":"${s.op}","parent":"${s.parent}",""" +
      s""""start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }
}
