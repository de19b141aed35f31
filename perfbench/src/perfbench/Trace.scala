package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

/** One traced interval: a call into a layer, made from the benchmark's
  * own code. `parent` is the enclosing span's id (-1 at top level); all
  * spans of one run share `runId`. Wall-clock millis line spans up with
  * Spark listener event times; nanos give the durations. */
final case class Span(id: Int, name: String, parent: Int, runId: String,
    startMs: Long, startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
  def endMs: Long = startMs + (endNs - startNs) / 1000000L
}

/** In-memory span recorder. Spans are taken only while `on`; off, `span`
  * is a plain call. One client thread drives every workload, so the
  * parent stack needs no synchronisation. */
object Trace {
  @volatile var on = false
  var runId = ""
  val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Int] = Nil

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val s = Span(spans.size, name, stack.headOption.getOrElse(-1), runId,
        System.currentTimeMillis(), System.nanoTime())
      spans += s
      stack = s.id :: stack
      try body
      finally { s.endNs = System.nanoTime(); stack = stack.tail }
    }

  /** Self time: the span's duration minus the union of its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.iterator.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    (s.endNs - s.startNs) / 1e9 - Intervals.length(Intervals.union(kids)) / 1e3
  }

  def total(name: String): Double =
    spans.iterator.filter(_.name == name).map(_.seconds).sum
  def count(name: String): Int = spans.count(_.name == name)
  def mean(name: String): Double = { val n = count(name); if (n == 0) 0.0 else total(name) / n }
}

/** Interval arithmetic over [start, end) millisecond intervals. */
object Intervals {
  type Iv = (Long, Long)

  def union(iv: Seq[Iv]): Seq[Iv] = {
    val out = mutable.ArrayBuffer[Iv]()
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (out.nonEmpty && s <= out.last._2) out(out.size - 1) = (out.last._1, math.max(out.last._2, e))
      else out += ((s, e))
    }
    out.toSeq
  }

  def length(u: Seq[Iv]): Long = u.map(x => x._2 - x._1).sum

  /** Intersection of two unions (both already merged). */
  def intersect(a: Seq[Iv], b: Seq[Iv]): Seq[Iv] =
    for { x <- a; y <- b; s = math.max(x._1, y._1); e = math.min(x._2, y._2); if e > s } yield (s, e)
}

/** Task-level counts the benchmark needs beyond [[graft.ProfileQuery.Prof]]
  * (which keeps job / SQL-execution intervals, task time, shuffle and
  * input bytes): CPU, GC, spill, input rows and bytes, output bytes. */
class TaskCounts extends SparkListener {
  @volatile var enabled = false
  var cpuNs, gcMs, spill, inputRows, inputBytes, outBytes = 0L
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (enabled) {
    val m = e.stageInfo.taskMetrics
    if (m != null) synchronized {
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
      inputRows += m.inputMetrics.recordsRead
      inputBytes += m.inputMetrics.bytesRead
      outBytes += m.outputMetrics.bytesWritten
    }
  }
  def reset(): Unit = synchronized { cpuNs = 0; gcMs = 0; spill = 0; inputRows = 0; inputBytes = 0; outBytes = 0 }
}

/** Counts shuffle exchanges in each executed plan (final AQE plan; a
  * reused exchange is not counted twice). */
class ExchangeCounts extends QueryExecutionListener {
  @volatile var enabled = false
  @volatile var exchanges = 0L

  private def walk(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => 0
    case e: ShuffleExchangeLike => 1 + e.children.map(walk).sum
    case o => o.children.map(walk).sum + o.subqueries.map(walk).sum
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (enabled) synchronized { exchanges += walk(qe.executedPlan) }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  def reset(): Unit = synchronized { exchanges = 0 }
}

object Probes {
  /** The probes of the traced window in progress, if any. */
  @volatile var active: Option[Probes] = None
}

/** The listeners of one traced window, attached to a session. */
final class Probes(spark: SparkSession) {
  val prof = new graft.ProfileQuery.Prof
  val tasks = new TaskCounts
  val xchg = new ExchangeCounts
  spark.sparkContext.addSparkListener(prof)
  spark.sparkContext.addSparkListener(tasks)
  spark.listenerManager.register(xchg)

  def start(): Unit = {
    drain(); prof.reset(); tasks.reset(); xchg.reset()
    prof.enabled = true; tasks.enabled = true; xchg.enabled = true
  }

  def stop(): Unit = {
    drain(); prof.enabled = false; tasks.enabled = false; xchg.enabled = false
  }

  /** Wait for the asynchronous listener bus, so trailing job/stage/SQL
    * end events land before the counts are read (same reflection seam as
    * `ProfileQuery`; the bus is `private[spark]`). */
  def drain(): Unit =
    try {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
        .invoke(bus, java.lang.Long.valueOf(5000L))
    } catch { case _: Throwable => Thread.sleep(300) }

  def detach(): Unit = {
    spark.sparkContext.removeSparkListener(prof)
    spark.sparkContext.removeSparkListener(tasks)
    spark.listenerManager.unregister(xchg)
  }

  /** L1/L2/L3 split of the given operation windows by interval union:
    * L3 = covered by a running job; L2 = inside a SQL execution with no
    * job running; L1 = the rest (driver protocol work). Seconds. */
  def layers(ops: Seq[Intervals.Iv]): (Double, Double, Double) = {
    val opU = Intervals.union(ops)
    val jobs = Intervals.union(prof.jobs.values.toSeq.filter(_.end > 0).map(j => (j.start, j.end)))
    val execs = Intervals.union(prof.execs.values.toSeq.filter(_._2 > 0))
    val busy = Intervals.union(jobs ++ execs)
    val l3 = Intervals.length(Intervals.intersect(opU, jobs))
    val inBusy = Intervals.length(Intervals.intersect(opU, busy))
    val l2 = inBusy - l3
    val l1 = Intervals.length(opU) - inBusy
    (l1 / 1e3, l2 / 1e3, l3 / 1e3)
  }
}

/** JVM-wide counters: GC time, heap peak, process peak RSS. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def resetHeapPeak(): Unit =
    ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())

  def heapPeakMb: Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** CPU time of every thread of this process, ns. */
  def processCpuNs: Long = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** (steal, total) jiffies of all CPUs from /proc/stat (Linux). */
  def cpuSteal: (Long, Long) = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().find(_.startsWith("cpu ")).map { l =>
      val f = l.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    }.getOrElse((0L, 0L))
    finally src.close()
  }

  /** VmHWM of this process (Linux), MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
