package graft

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** Shared listener-based shuffle measurement for the scale-invariant
  * suites (ScaleSpec, CdcSpec): sum/max of shuffle task metrics while
  * `action` runs. Listener-bus delivery is async: poll until the numbers
  * stop moving. Returns (result, recordsWritten, recordsRead,
  * maxPerTaskRead). */
object ShuffleMetrics {
  /** Deliver every queued listener event before a measuring listener is
    * added: the bus hands a new listener the events still queued, so
    * the task ends of an earlier action would count as this one's. */
  def drainBus(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("waitUntilEmpty", java.lang.Long.TYPE)
      .invoke(bus, java.lang.Long.valueOf(10000L))
  }

  def measure[A](spark: SparkSession)(action: => A): (A, Long, Long, Long) = {
    val write = new AtomicLong; val read = new AtomicLong
    val maxTaskRead = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          write.addAndGet(m.shuffleWriteMetrics.recordsWritten)
          val r = m.shuffleReadMetrics.recordsRead
          read.addAndGet(r)
          maxTaskRead.getAndUpdate(x => math.max(x, r))
        }
      }
    }
    drainBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = action
      var prev = -1L
      var same = 0
      while (same < 3) { // stable for 300 ms → bus drained
        Thread.sleep(100)
        val cur = write.get + read.get
        if (cur == prev) same += 1 else { same = 0; prev = cur }
      }
      (a, write.get, read.get, maxTaskRead.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  /** INPUT-side twin of [[measure]]: total `inputMetrics` bytes/records
    * scanned while `action` runs — the file-pruning evidence (what a
    * manifest/bucket-pruned plan actually read from storage). Returns
    * (result, bytesRead, recordsRead). */
  def measureInput[A](spark: SparkSession)(action: => A): (A, Long, Long) = {
    val bytes = new AtomicLong; val recs = new AtomicLong
    val l = new SparkListener {
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        val m = t.taskMetrics
        if (m != null) {
          bytes.addAndGet(m.inputMetrics.bytesRead)
          recs.addAndGet(m.inputMetrics.recordsRead)
        }
      }
    }
    drainBus(spark)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = action
      var prev = -1L
      var same = 0
      while (same < 3) {
        Thread.sleep(100)
        val cur = bytes.get + recs.get
        if (cur == prev) same += 1 else { same = 0; prev = cur }
      }
      (a, bytes.get, recs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
