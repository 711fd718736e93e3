package graft.obs

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{GraftShims, SparkSession}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}

/** Where a piece of driver code spends its time in Spark, per label.
  *
  * `profile(label) { body }` runs `body` under a job group of its own,
  * and every job, stage, task and finished action the context sees in
  * that group is counted under `label`; nested labels count their own
  * events only, and events outside any label are ignored. A label
  * opened again adds to what it holds. `take(label)` drains the
  * listener bus (no sleep: every event of a returned action is queued
  * before the action returns) and hands back the label's [[Profile.Stats]].
  *
  * Actions are read from the SQL execution events on the context's
  * bus, not through a session's `QueryExecutionListener`: that one
  * hears only its own session, and the rank loops run their actions on
  * a child session (`Sessions.loopSession`).
  *
  * A profile is attached to a session on purpose, never by
  * `Sessions.build`: it keeps state per open label until `take` or
  * `clear`, which a long-lived service would not call.
  */
final class Profile private (spark: SparkSession) extends SparkListener {
  import Profile._

  private val groupPrefix = s"graft-profile-${System.identityHashCode(this)}:"
  private val labels = mutable.Map.empty[String, Acc]
  private val byJob = mutable.Map.empty[Int, (Acc, Long)]
  private val byStage = mutable.Map.empty[Int, Acc]
  private val byExecution = mutable.Map.empty[Long, Acc]

  def apply[A](label: String)(body: => A): A = {
    val sc = spark.sparkContext
    val acc = synchronized(labels.getOrElseUpdate(groupPrefix + label, new Acc))
    val outer = sc.getLocalProperty(JobGroup)
    sc.setLocalProperty(JobGroup, groupPrefix + label)
    val startMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    try body
    finally {
      val wallNs = System.nanoTime() - t0
      val endMs = System.currentTimeMillis()
      sc.setLocalProperty(JobGroup, outer)
      synchronized { acc.wallNs += wallNs; acc.spans += ((startMs, endMs)) }
    }
  }

  /** The label's figures; the label is forgotten afterwards. A label
    * never opened reads as all zeros. */
  def take(label: String): Stats = {
    GraftShims.waitListenerBusEmpty(spark)
    synchronized {
      val acc = labels.remove(groupPrefix + label).getOrElse(new Acc)
      byJob.filterInPlace((_, v) => v._1 ne acc)
      byStage.filterInPlace((_, a) => a ne acc)
      byExecution.filterInPlace((_, a) => a ne acc)
      acc.stats
    }
  }

  /** Forgets every label without draining the bus. */
  def clear(): Unit = synchronized {
    labels.clear(); byJob.clear(); byStage.clear(); byExecution.clear()
  }

  def close(): Unit = {
    spark.sparkContext.removeSparkListener(this)
    clear()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).map(_.getProperty(JobGroup)).flatMap(labels.get)
      .foreach { acc =>
        acc.jobs += 1
        if (e.stageInfos.size > 1) acc.multiStageJobs += 1
        byJob(e.jobId) = (acc, e.time)
        e.stageInfos.foreach(s => byStage(s.stageId) = acc)
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    byJob.remove(e.jobId).foreach { case (acc, start) =>
      acc.jobSpans += ((start, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized(byStage.get(e.stageInfo.stageId).foreach(_.stages += 1))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (acc <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      acc.tasks += 1
      acc.runMs += m.executorRunTime
      acc.cpuNs += m.executorCpuTime
      acc.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      acc.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      acc.memorySpillBytes += m.memoryBytesSpilled
      acc.diskSpillBytes += m.diskBytesSpilled
      acc.peakTaskMemoryBytes = math.max(acc.peakTaskMemoryBytes, m.peakExecutionMemory)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      s.jobGroupId.flatMap(labels.get).foreach(byExecution(s.executionId) = _) }
    case end: SparkListenerSQLExecutionEnd => synchronized {
      for (acc <- byExecution.remove(end.executionId);
           (name, qe) <- GraftShims.finishedAction(end)) {
        acc.actions += name
        qe.tracker.phases.foreach { case (phase, p) =>
          acc.phases += ((phase, p.startTimeMs, p.endTimeMs)) }
      }
    }
    case _ => ()
  }
}

object Profile {
  /** The local property `SparkContext.setJobGroup` sets. */
  private val JobGroup = "spark.jobGroup.id"

  def attach(spark: SparkSession): Profile = {
    val p = new Profile(spark)
    spark.sparkContext.addSparkListener(p)
    p
  }

  /** One label's figures. Times are milliseconds.
    *
    * @param jobCoveredMs the union of the label's job intervals: time
    *                     with at least one of its jobs running
    * @param phasesMs     Catalyst phase times (analysis, optimization,
    *                     planning) of the label's finished actions,
    *                     counted only where they fall inside the label
    *                     (an action shares its frame's tracker, so the
    *                     frame's analysis before the label opened is
    *                     left out)
    * @param actions      the name (`count`, `collect`, `overwrite`, ...) of
    *                     every finished action, in order
    */
  final case class Stats(
      wallMs: Double, jobs: Int, multiStageJobs: Int, stages: Int,
      tasks: Int, runMs: Long, cpuMs: Double, jobCoveredMs: Double,
      shuffleReadBytes: Long, shuffleWriteBytes: Long,
      memorySpillBytes: Long, diskSpillBytes: Long,
      peakTaskMemoryBytes: Long, phasesMs: Map[String, Double],
      actions: Seq[String]) {
    def planMs: Double = phasesMs.values.sum
    /** Wall time with none of the label's jobs running. */
    def driverGapMs: Double = wallMs - jobCoveredMs

    /** Two labels' figures as one: sums, except the peak task memory. */
    def +(o: Stats): Stats = Stats(
      wallMs + o.wallMs, jobs + o.jobs, multiStageJobs + o.multiStageJobs,
      stages + o.stages, tasks + o.tasks, runMs + o.runMs, cpuMs + o.cpuMs,
      jobCoveredMs + o.jobCoveredMs, shuffleReadBytes + o.shuffleReadBytes,
      shuffleWriteBytes + o.shuffleWriteBytes,
      memorySpillBytes + o.memorySpillBytes, diskSpillBytes + o.diskSpillBytes,
      math.max(peakTaskMemoryBytes, o.peakTaskMemoryBytes),
      (phasesMs.toSeq ++ o.phasesMs).groupMapReduce(_._1)(_._2)(_ + _),
      actions ++ o.actions)
  }

  private final class Acc {
    var wallNs = 0L
    val spans = mutable.ArrayBuffer.empty[(Long, Long)]
    var jobs, multiStageJobs, stages, tasks = 0
    var runMs, cpuNs, shuffleReadBytes, shuffleWriteBytes = 0L
    var memorySpillBytes, diskSpillBytes, peakTaskMemoryBytes = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val phases = mutable.ArrayBuffer.empty[(String, Long, Long)]
    val actions = mutable.ArrayBuffer.empty[String]

    def stats: Stats = {
      val wallMs = wallNs / 1e6
      def inLabel(s: Long, e: Long): Long =
        spans.map { case (a, b) => math.max(0L, math.min(e, b) - math.max(s, a)) }.sum
      Stats(wallMs, jobs, multiStageJobs, stages, tasks, runMs, cpuNs / 1e6,
        math.min(wallMs, union(jobSpans.toSeq).toDouble),
        shuffleReadBytes, shuffleWriteBytes, memorySpillBytes, diskSpillBytes,
        peakTaskMemoryBytes,
        phases.groupMapReduce(_._1)(p => inLabel(p._2, p._3).toDouble)(_ + _),
        actions.toList)
    }
  }

  /** Total length of the union of [start, end] intervals. */
  private def union(xs: Seq[(Long, Long)]): Long =
    xs.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, hi), (s, e)) =>
      if (e <= hi) (sum, hi) else (sum + e - math.max(s, hi), e)
    }._1
}
