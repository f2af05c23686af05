package graft.perfbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Spark work a span caused: counted by [[Tracer]]'s listener from the jobs,
  * stages and tasks that carried the span's id as a local property. */
final class SparkWork {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var failedTasks = 0L
  var cpuNs = 0L
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var inputRecords = 0L
  val jobIntervalsMs = mutable.ArrayBuffer.empty[(Long, Long)]
}

/** One timed call. `layer` is the part of `name` before the first dot: the
  * graft module the call went into (`sources`, `storage`, `operators`,
  * `functions`), or `op` for the operation that encloses them. Counters hold
  * inclusive Hadoop filesystem deltas and whatever the workload added. */
final class Span(val id: Long, val name: String, val parent: Long, val op: Long,
                 val startNs: Long) {
  var endNs = 0L
  val counters = mutable.LinkedHashMap.empty[String, Double]
  def layer: String = name.takeWhile(_ != '.')
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spans around every call the benchmark makes into a graft module, kept in
  * memory and written out when the run ends.
  *
  * Spark work is attributed to the innermost open span: the span id is set
  * as a local property on the client thread (Spark copies it onto the jobs
  * it submits, broadcast and subquery jobs included) and a listener charges
  * each job, stage and task to it. A lazily evaluated call costs nothing in
  * its own span; the span that runs the action carries the work.
  *
  * With tracing off, [[op]] only times the operation and [[span]] runs its
  * body; no listener is registered. */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  import Tracer._

  private val sc = spark.sparkContext
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val work = new ConcurrentHashMap[Long, SparkWork]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val jobStartMs = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSpan = new ConcurrentHashMap[Int, java.lang.Long]()

  private def spanOf(props: java.util.Properties): Option[Long] =
    Option(props).flatMap(p => Option(p.getProperty(SpanKey))).map(_.toLong)

  private def workOf(id: Long): SparkWork = work.computeIfAbsent(id, _ => new SparkWork)

  // Listener callbacks run on one bus thread; reads happen after a drain.
  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      spanOf(e.properties).foreach { id =>
        jobSpan.put(e.jobId, id)
        jobStartMs.put(e.jobId, e.time)
        workOf(id).synchronized(workOf(id).jobs += 1)
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobSpan.get(e.jobId)).foreach { id =>
        val w = workOf(id)
        w.synchronized(w.jobIntervalsMs += ((jobStartMs.get(e.jobId).longValue, e.time)))
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      spanOf(e.properties).foreach(id => stageSpan.put(e.stageInfo.stageId, id))
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach { id =>
        val w = workOf(id)
        w.synchronized(w.stages += 1)
      }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).foreach { id =>
        val w = workOf(id)
        w.synchronized {
          w.tasks += 1
          if (e.reason != org.apache.spark.Success) w.failedTasks += 1
          val m = e.taskMetrics
          if (m != null) {
            w.cpuNs += m.executorCpuTime
            w.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
            w.shuffleRead += m.shuffleReadMetrics.totalBytesRead
            w.inputRecords += m.inputMetrics.recordsRead
          }
        }
      }
  }
  if (enabled) sc.addSparkListener(listener)

  private def open(name: String): Span = {
    val parent = stack.headOption
    val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L),
      parent.map(_.op).getOrElse(nextId), System.nanoTime())
    nextId += 1
    stack = s :: stack
    sc.setLocalProperty(SpanKey, s.id.toString)
    fsSnapshot().foreach { case (k, v) => s.counters(k) = -v }
    s
  }

  private def close(s: Span): Unit = {
    s.endNs = System.nanoTime()
    fsSnapshot().foreach { case (k, v) => s.counters(k) = s.counters(k) + v }
    stack = stack.tail
    sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
    spans += s
  }

  /** Time one operation of the timed phase; returns its result and its
    * wall-clock seconds, traced or not. */
  def op[T](name: String)(body: => T): (T, Double) =
    if (!enabled) {
      val t0 = System.nanoTime()
      val r = body
      (r, (System.nanoTime() - t0) / 1e9)
    } else {
      val s = open(name)
      val gc0 = gcMillis()
      try {
        val r = body
        (r, (System.nanoTime() - s.startNs) / 1e9)
      } finally {
        s.counters("jvm.gc_s") = (gcMillis() - gc0) / 1e3
        close(s)
      }
    }

  /** A call into one graft module, inside an [[op]]. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || stack.isEmpty) body
    else {
      val s = open(name)
      try body finally close(s)
    }

  /** Add to a counter of the innermost open span. */
  def count(name: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s => s.counters(name) = s.counters.getOrElse(name, 0.0) + v)

  /** The Spark work charged to each span, once every event is delivered. */
  def sparkWork(): Map[Long, SparkWork] = {
    if (enabled) org.apache.spark.PerfbenchBridge.waitListenerBusEmpty(sc, 60000L)
    import scala.jdk.CollectionConverters._
    work.asScala.toMap.map { case (k, v) => k.longValue -> v }
  }

  def stop(): Unit = if (enabled) sc.removeSparkListener(listener)
}

object Tracer {
  val SpanKey = "perfbench.span"

  /** Hadoop filesystem statistics summed over every scheme: local-mode
    * executors are threads of this JVM, so the totals include their I/O. */
  def fsSnapshot(): Seq[(String, Double)] = {
    import scala.jdk.CollectionConverters._
    val all = FileSystem.getAllStatistics.asScala
    Seq(
      "fs.bytes_read" -> all.map(_.getBytesRead.toDouble).sum,
      "fs.bytes_written" -> all.map(_.getBytesWritten.toDouble).sum)
  }

  def gcMillis(): Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum
  }
}
