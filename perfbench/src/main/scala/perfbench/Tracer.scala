package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** Traced mode, from outside the program: a SparkListener for jobs and
  * stages, a QueryExecutionListener for Catalyst phases and scan
  * metrics, and spans the benchmark opens around each call into a
  * layer. Each span sets its own job group. Everything stays in memory
  * until the run ends; `records` hands it to the result file, where
  * jobs, stages and query phases are attributed to the innermost span
  * that contains them in time (the benchmark is a single client, so
  * containment is exact).
  *
  * Times are epoch nanoseconds (Spark's listener times are epoch ms).
  */
final class Tracer(spark: SparkSession) {
  private val nano0 = System.nanoTime()
  private val epochNs0 = System.currentTimeMillis() * 1000000L
  def clock(): Long = epochNs0 + (System.nanoTime() - nano0)

  private final class Span(val id: Int, val parent: Int, val name: String,
      val start: Long, val attrs: Seq[(String, Any)]) { var end = 0L }
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val queries = new ConcurrentLinkedQueue[Map[String, Any]]()
  /** Jobs seen starting and not yet seen ending. An event queued on the
    * listener bus before `attach` may reach the listener after it, so a
    * job end whose start was not seen is ignored. */
  private val running = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      running.add(e.jobId)
      jobs.add(Map("job" -> e.jobId, "start_ms" -> e.time,
        "group" -> Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull,
        "stages" -> e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      jobs.add(Map("job" -> e.jobId, "end_ms" -> e.time))
      running.remove(e.jobId)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.add(Map(
        "stage" -> i.stageId, "tasks" -> i.numTasks,
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "input_records" -> (if (m == null) 0L else m.inputMetrics.recordsRead),
        "output_bytes" -> (if (m == null) 0L else m.outputMetrics.bytesWritten)))
    }
  }

  private object planHelper extends AdaptiveSparkPlanHelper

  private def scanMetrics(plan: SparkPlan): Map[String, Long] = {
    val scans = planHelper.collectWithSubqueries(plan) {
      case p if p.metrics.contains("numFiles") => p
    }
    def sum(key: String) = scans.flatMap(_.metrics.get(key)).map(_.value).sum
    Map("files_read" -> sum("numFiles"), "partitions_read" -> sum("numPartitions"),
      "scans" -> scans.size.toLong)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, ok = false)
    private def record(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
      val phases = qe.tracker.phases.map { case (k, p) =>
        k -> Map("start_ms" -> p.startTimeMs, "end_ms" -> p.endTimeMs)
      }
      val scan = try scanMetrics(qe.executedPlan) catch { case _: Exception => Map.empty }
      queries.add(Map("func" -> funcName, "ok" -> ok, "phases" -> phases) ++ scan)
    }
  }

  var attached = false

  def attach(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    attached = true
  }

  /** Waits for the listeners to see every event, then removes them. */
  def detach(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.clearJobGroup()
    attached = false
  }

  def span[A](name: String, attrs: (String, Any)*)(body: => A): A = {
    val s = new Span(spans.size, stack.headOption.fold(-1)(_.id), name, clock(), attrs)
    spans += s
    stack = s :: stack
    spark.sparkContext.setJobGroup(s"perfbench-span-${s.id}", name, interruptOnCancel = false)
    try body
    finally {
      s.end = clock()
      stack = stack.tail
      stack.headOption match {
        case Some(p) => spark.sparkContext.setJobGroup(s"perfbench-span-${p.id}", p.name, false)
        case None => spark.sparkContext.clearJobGroup()
      }
    }
  }

  /** Waits until every started job has ended and the listener bus is
    * quiet, so no record is lost. */
  def drain(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    var last = -1L
    var quiet = 0
    while (quiet < 3 && System.nanoTime() < deadline) {
      Thread.sleep(30)
      val seen = jobs.size + stages.size + queries.size
      if (running.isEmpty && seen == last) quiet += 1 else quiet = 0
      last = seen
    }
  }

  def records: Map[String, Any] = Map(
    "spans" -> spans.map(s => Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "start_ns" -> s.start, "end_ns" -> s.end) ++ s.attrs),
    "jobs" -> jobs.asScala.toSeq,
    "stages" -> stages.asScala.toSeq,
    "queries" -> queries.asScala.toSeq)
}
