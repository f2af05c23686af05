package graft.perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, derived from its spans.
  *
  * "Per op" means per primary operation of the timed phase (a batch); on
  * curation-index a batch's share includes the query that follows it.
  * Self time is a span's duration minus the time its child spans cover.
  * Every workload reports every metric; a layer the workload does not call
  * reads 0. */
object Layers {
  final case class Metric(name: String, unit: String, value: Double)

  val LayerNames = Seq("client", "sources", "storage", "operators", "functions")

  /** Span names whose summed duration is reported as `<name>_s`. */
  val Timed = Seq(
    "sources.deduce", "storage.store", "storage.notify_store", "storage.read_plan",
    "operators.materialize", "operators.entity_rollup", "operators.trigger",
    "functions.dedup", "functions.charlm_score", "functions.charlm_append",
    "functions.index_append", "functions.search")

  /** Counters the workloads add, reported per op. */
  val Counted = Seq(
    "sources.csv_bytes" -> "B/op", "storage.store_calls" -> "count/op",
    "storage.partitions_touched" -> "count/op", "operators.chunks_materialized" -> "count/op")

  /** Seconds covered by the union of [start, end] intervals. */
  def unionSeconds(intervalsMs: Iterable[(Long, Long)]): Double = {
    var covered = 0L
    var (lo, hi) = (Long.MinValue, Long.MinValue)
    intervalsMs.toSeq.sortBy(_._1).foreach { case (s, e) =>
      if (s > hi) { if (hi > lo) covered += hi - lo; lo = s; hi = e }
      else hi = math.max(hi, e)
    }
    if (hi > lo) covered += hi - lo
    covered / 1e3
  }

  def median(xs: Seq[Double]): Double = percentile(xs, 0.5)

  /** Linear-interpolated percentile; 0 for an empty sample. */
  def percentile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val i = pos.toInt
      if (i + 1 >= s.length) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }

  def compute(spans: Seq[Span], work: Map[Long, SparkWork], primaryOps: Int,
              extras: Map[String, Double]): Seq[Metric] = {
    val n = math.max(primaryOps, 1).toDouble
    val ops = spans.filter(_.parent == 0L)
    val children = spans.groupBy(_.parent)
    def selfSeconds(s: Span) = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
    def w(s: Span) = work.getOrElse(s.id, new SparkWork)
    def layerOf(s: Span) = if (s.parent == 0L) "client" else s.layer
    val inOps = spans.filter(s => ops.exists(_.id == s.op))
    def sumW(f: SparkWork => Double) = inOps.map(s => f(w(s))).sum
    def jobWall(ss: Seq[Span]) = unionSeconds(ss.flatMap(s => w(s).jobIntervalsMs))
    val byOp = inOps.groupBy(_.op)
    val opWall = ops.map(o => jobWall(byOp.getOrElse(o.id, Nil))).sum
    val out = mutable.ArrayBuffer.empty[Metric]
    def add(name: String, unit: String, v: Double) = out += Metric(name, unit, v)

    add("spark.jobs", "count/op", sumW(_.jobs.toDouble) / n)
    add("spark.stages", "count/op", sumW(_.stages.toDouble) / n)
    add("spark.tasks", "count/op", sumW(_.tasks.toDouble) / n)
    add("spark.executor_cpu_s", "s/op", sumW(_.cpuNs / 1e9) / n)
    add("spark.job_wall_s", "s/op", opWall / n)
    add("spark.driver_only_s", "s/op", (ops.map(_.seconds).sum - opWall) / n)
    add("spark.shuffle_write_bytes", "B/op", sumW(_.shuffleWrite.toDouble) / n)
    add("spark.shuffle_read_bytes", "B/op", sumW(_.shuffleRead.toDouble) / n)
    add("spark.input_records", "count/op", sumW(_.inputRecords.toDouble) / n)
    add("spark.failed_tasks", "count", sumW(_.failedTasks.toDouble))
    add("jvm.gc_s", "s/op", ops.map(_.counters.getOrElse("jvm.gc_s", 0.0)).sum / n)

    val byLayer = inOps.groupBy(layerOf)
    LayerNames.foreach { l =>
      val ss = byLayer.getOrElse(l, Nil)
      val self = ss.map(selfSeconds).sum
      add(s"$l.self_s", "s/op", self / n)
      add(s"$l.jobs", "count/op", ss.map(s => w(s).jobs.toDouble).sum / n)
      add(s"$l.driver_only_s", "s/op",
        ss.map(s => math.max(0.0, selfSeconds(s) - jobWall(Seq(s)))).sum / n)
      add(s"$l.executor_cpu_s", "s/op", ss.map(s => w(s).cpuNs / 1e9).sum / n)
    }

    Timed.foreach { t =>
      add(s"${t}_s", "s/op", inOps.filter(_.name == t).map(_.seconds).sum / n)
    }
    Counted.foreach { case (c, unit) =>
      add(c, unit, inOps.map(_.counters.getOrElse(c, 0.0)).sum / n)
    }
    def fs(k: String) = ops.map(_.counters.getOrElse(k, 0.0)).sum / n
    add("storage.fs_bytes_written", "B/op", fs("fs.bytes_written"))
    add("storage.fs_bytes_read", "B/op", fs("fs.bytes_read"))

    ExtraUnits.toSeq.sortBy(_._1).foreach { case (k, unit) => add(k, unit, extras.getOrElse(k, 0.0)) }
    add("trace.spans", "count/op", inOps.length / n)
    out.toSeq
  }

  /** Metrics a workload measures itself, with their units; a workload that
    * lacks one reports 0. */
  val ExtraUnits: Map[String, String] = Map(
    "storage.files_on_disk" -> "count",
    "storage.bytes_on_disk" -> "B",
    "operators.notifications" -> "count/op",
    "functions.dedup_pairs_per_candidate" -> "ratio")
}
