package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** One benchmark run inside one JVM: set-up, the workload's closed loop,
  * and the answer checks. Drives the program only through its public
  * API and writes raw measurements (samples, checks, spans, Spark job
  * and query records) to `<work>/result.json`; `run.py` turns them into
  * metrics.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                 --work DIR --cpus C [--corpus DIR] [--tables DIR]
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val run = new Run(a("workload"), a("seed").toLong, a("seconds").toDouble,
      a("trace") == "1", a("work"), a("cpus"), a)
    val workload: Workload = run.workload match {
      case "api_mixed" => new ApiMixed(run)
      case "suite_slice" => new SuiteSlice(run)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val t0 = System.nanoTime()
    def phase(name: String): Unit =
      System.err.println(f"[perfbench] $name done at ${(System.nanoTime() - t0) / 1e9}%.1f s")
    val spark = run.setup(workload.warmUnit)
    phase("set-up")
    try {
      workload.prepare(spark)
      phase("prepare")
      // traced runs trace every other operation: the untraced ones
      // beside them give the tracing overhead
      if (run.trace) run.tracer = Some(new Tracer(spark))
      workload.loop(spark, run.seconds)
      phase("loop")
      run.tracer.foreach { t =>
        t.attach()
        workload.layers(spark)
        t.detach()
        phase("layers")
      }
    } catch {
      case e: Exception =>
        run.fail(s"run aborted: $e")
        e.printStackTrace()
    } finally {
      run.write()
      spark.stop()
    }
  }
}

/** A workload: what warms a fresh session, what is prepared before the
  * timed loop, the loop itself, and (traced runs) the layer walk. */
trait Workload {
  def warmUnit(spark: SparkSession): Unit
  def prepare(spark: SparkSession): Unit
  def loop(spark: SparkSession, seconds: Double): Unit
  def layers(spark: SparkSession): Unit = ()
}

/** Everything one run records, plus the helpers workloads share. */
final class Run(val workload: String, val seed: Long, val seconds: Double,
    val trace: Boolean, val work: String, val cpus: String, val args: Map[String, String]) {
  val rng = new scala.util.Random(seed)
  var tracer: Option[Tracer] = None
  private val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  private val detail = mutable.LinkedHashMap.empty[String, Any]
  private val failures = mutable.ArrayBuffer.empty[String]
  private var setupTimes = Map.empty[String, Double]

  def now(): Long = System.nanoTime()

  private var warming = false

  /** Runs `body` as warm-up: its operations are checked and counted as
    * attempts, but are in no timing. */
  def warmUp(body: => Unit): Unit = {
    warming = true
    try body finally warming = false
  }

  /** Times `body` as one operation of kind `kind`. In traced runs every
    * other operation runs traced, inside an op span. Returns the result
    * and the latency in ms. */
  def op[A](kind: String, attrs: (String, Any)*)(body: => A): (A, Double) = {
    val traced = tracer.filter(_ => ops.length % 2 == 1)
    traced.foreach(_.attach())
    val t0 = now()
    val r = traced match {
      case Some(t) => t.span(kind, Seq("op" -> true, "op_index" -> ops.length) ++ attrs: _*)(body)
      case None => body
    }
    val ms = (now() - t0) / 1e6
    traced.foreach(_.detach())
    ops += Map("kind" -> kind, "ms" -> ms,
      "segment" -> (if (warming) "warm" else if (traced.isDefined) "traced" else "timed")) ++ attrs
    (r, ms)
  }


  /** Records one answer check; returns whether it held. */
  def check(ok: Boolean, what: => String): Boolean = {
    if (!ok) fail(what)
    ok
  }

  def fail(what: String): Unit = {
    failures += what
    System.err.println(s"[perfbench] FAILED: $what")
  }

  def markLastOpFailed(): Unit = setLastOp("failed", true)

  def setLastOp(key: String, value: Any): Unit =
    if (ops.nonEmpty) ops(ops.length - 1) = ops.last + (key -> value)

  def put(name: String, value: Any): Unit = detail(name) = value

  def span[A](name: String, attrs: (String, Any)*)(body: => A): A =
    tracer.filter(_.attached).fold(body)(_.span(name, attrs: _*)(body))

  /** Set-up as the program pays it, once, in this fresh JVM: build the
    * session through `Sessions.build`, then run the workload's warm
    * unit. Class loading, first codegen and the first jobs all fall
    * in it. */
  def setup(warm: SparkSession => Unit): SparkSession = {
    val t0 = now()
    val spark = graft.Sessions.build(cpus, "perfbench")
    val t1 = now()
    warm(spark)
    setupTimes = Map("build_s" -> (t1 - t0) / 1e9, "total_s" -> (now() - t0) / 1e9)
    spark
  }

  /** Heap in use right after a collection, the largest seen: the live
    * data the program holds, apart from the young generation's size. */
  @volatile private var heapAfterGcPeak = 0L
  locally {
    import java.lang.management.{ManagementFactory, MemoryType}
    import javax.management.{Notification, NotificationEmitter, NotificationListener}
    import javax.management.openmbean.CompositeData
    import com.sun.management.GarbageCollectionNotificationInfo
    import scala.jdk.CollectionConverters._
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
    val listener: NotificationListener = (n: Notification, _: Any) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        if (used > heapAfterGcPeak) heapAfterGcPeak = used
      }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  private def peakRssMb: Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)

  def write(): Unit = {
    val out = Map(
      "workload" -> workload, "seed" -> seed, "trace" -> trace,
      "setup" -> setupTimes, "ops" -> ops,
      "failures" -> failures, "detail" -> detail,
      "peak_rss_mb" -> peakRssMb, "heap_after_gc_peak_mb" -> heapAfterGcPeak / 1048576.0,
      "trace_records" -> tracer.map(_.records).getOrElse(Map.empty))
    Files.writeString(Paths.get(work, "result.json"), Json(out))
  }
}

object Fs {
  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(deleteRec)
    f.delete()
  }
  def parquetFiles(f: File): Seq[File] =
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).toSeq.flatMap(parquetFiles)
    else if (f.getName.endsWith(".parquet")) Seq(f) else Seq.empty
}

/** Minimal JSON writer for the result record. */
object Json {
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case i: Int => i.toString
    case l: Long => l.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case it: Iterable[_] => it.map(apply).mkString("[", ",", "]")
    case other => quote(other.toString)
  }
  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}
