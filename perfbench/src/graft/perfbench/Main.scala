package graft.perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one seed, one JVM, one client
  * thread. See perfbench/README.md for the workloads and metrics.
  *
  *   graft.perfbench.Main --workload <name> --seed <n> --seconds <s>
  *     --trace <0|1> --scale <full|tiny> --work <dir> --trace-out <file>
  *
  * The last line of standard output is the result JSON. Exit code 0 only
  * when every operation and every output check succeeded. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
                        tiny: Boolean, work: String, traceOut: String)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      m.get("scale").contains("tiny"), need("work"), need("trace-out"))
  }

  def main(args: Array[String]): Unit = {
    val code =
      try run(parse(args))
      catch { case e: Throwable => e.printStackTrace(); 2 }
    sys.exit(code)
  }

  /** Largest heap in use right after a collection, over the timed phase:
    * the live set, not the garbage a collector has yet to reclaim. */
  private final class LiveHeapPeak {
    @volatile var peakBytes = 0L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val live = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        peakBytes = math.max(peakBytes, live)
      }
    private val emitters = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.asInstanceOf[javax.management.NotificationEmitter]).toSeq
    emitters.foreach(_.addNotificationListener(listener, null, null))
    def stop(): Unit = emitters.foreach(_.removeNotificationListener(listener))
  }

  private def session(o: Opts): SparkSession = {
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${o.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", s"${o.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${o.work}/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.GraftExtensions.register(s) // as cli.Main's session does
    s
  }

  private def deleteTree(path: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(path)) {
      val s = java.nio.file.Files.walk(path)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(p => java.nio.file.Files.delete(p))
      finally s.close()
    }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Rounds whose operations the bounded metrics are taken from. The timed
    * phase runs at least these and then more until `--seconds` have
    * passed, so the bounded sample set is the same on every host. */
  val FixedRounds = 2

  private val osBean =
    ManagementFactory.getOperatingSystemMXBean.asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU seconds this JVM has used since it started, all threads. */
  private def cpuS: Double = osBean.getProcessCpuTime / 1e9

  /** Wall and CPU seconds of `body`. */
  private def timed(body: => Unit): (Double, Double) = {
    val (w0, c0) = (System.nanoTime(), cpuS)
    body
    ((System.nanoTime() - w0) / 1e9, cpuS - c0)
  }

  private final case class Timing(op: Op, round: Int, wallS: Double, cpuS: Double, items: Long)

  def run(o: Opts): Int = {
    val t0 = System.nanoTime()
    val spark = session(o)
    // CPU since the JVM started: boot, class loading and session start
    val (sessionWall, sessionCpu) = ((System.nanoTime() - t0) / 1e9, cpuS)
    val cores = math.min(Runtime.getRuntime.availableProcessors, 4)
    val tr = new Tracer(spark, o.trace)
    val wl: Workload = o.workload match {
      case "ingest-rollup" => new IngestRollup(spark, tr, o.seed, o.tiny)
      case "curation-index" => new CurationIndex(spark, tr, o.seed, o.tiny)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }

    // set-up runs several times from scratch; setup_s is the CPU time of
    // session start + the median set-up + the warm-up
    val reps = if (o.tiny) 1 else 3
    val setups = (1 to reps).map { i =>
      val dir = s"${o.work}/setup-$i"
      val t = timed(wl.setup(dir))
      if (i < reps) deleteTree(java.nio.file.Paths.get(dir))
      t
    }
    val warm = timed(wl.warmUp())
    val setupCpu = sessionCpu + Layers.median(setups.map(_._2)) + warm._2
    println(s"workload ${o.workload} seed ${o.seed} cores $cores trace ${if (o.trace) 1 else 0}")
    println(s"inputs ${wl.inputSummary}")
    println(s"input fingerprint ${wl.fingerprint}")
    def pairs(ts: Seq[(Double, Double)]) = ts.map { case (w, c) => f"$w%.3f/$c%.3f" }.mkString(" ")
    println(s"setup wall/cpu s: session ${pairs(Seq((sessionWall, sessionCpu)))}, " +
      s"runs ${pairs(setups)}, warm-up ${pairs(Seq(warm))}")

    // timed phase: closed loop, one client, rounds until FixedRounds are
    // done and --seconds have passed
    val heap = new LiveHeapPeak
    val timings = mutable.ArrayBuffer.empty[Timing]
    var attempted = 0L
    var failed = 0L
    var round = 0
    val start = System.nanoTime()
    var exhausted = false
    while (!exhausted && (round < FixedRounds || System.nanoTime() - start < o.seconds * 1e9))
      wl.next() match {
        case None =>
          exhausted = true
          System.err.println("perfbench: input pool used up before --seconds")
        case Some(ops) =>
          ops.foreach { op =>
            attempted += 1
            try {
              val c0 = cpuS
              val (n, s) = tr.op(op.name)(op.run())
              timings += Timing(op, round, s, cpuS - c0, n)
            } catch {
              case e: Exception =>
                failed += 1
                System.err.println(s"operation ${op.name} failed: $e")
            }
          }
          round += 1
      }
    System.gc()
    heap.stop()
    val peakHeapMb = heap.peakBytes / 1048576.0

    val work = tr.sparkWork()
    val checks =
      try wl.checks()
      catch { case e: Exception => Seq(Check("checks", passed = false, e.toString)) }
    attempted += checks.size
    failed += checks.count(!_.passed)
    if (round < FixedRounds) {
      failed += 1
      System.err.println(s"perfbench: $round of $FixedRounds fixed rounds ran")
    }
    checks.foreach(c => println(s"check ${c.name} ${if (c.passed) "ok" else "FAILED"}: ${c.detail}"))

    val primary = timings.filter(_.op.primary).toSeq
    val secondary = timings.filterNot(_.op.primary).toSeq
    val fixed = timings.filter(_.round < FixedRounds).toSeq
    val fixedPrimary = fixed.filter(_.op.primary)
    val (storeFiles, storeBytes) = Workload.diskBytes(wl.storeDir)
    val e2e = Seq(
      ("setup_s", "s", setupCpu, reps),
      ("op_cpu_p50_s", "s", Layers.median(fixedPrimary.map(_.cpuS)), fixedPrimary.length),
      ("cpu_s_per_item", "s", fixed.map(_.cpuS).sum / math.max(fixed.map(_.items).sum, 1L), fixed.length),
      ("stored_bytes_per_input_byte", "ratio", storeBytes.toDouble / math.max(wl.inputBytes, 1L), 1),
      ("answer_quality", "ratio", wl.answerQuality, 1))

    // the wall-clock report, over every operation of the timed phase
    val busy = timings.map(_.wallS).sum
    val items = timings.map(_.items).sum
    // a p90 is printed only once ten samples lie beyond it
    def report(name: String, xs: Seq[Double]) = {
      println(f"${name}_p50_s ${Layers.median(xs)}%.4f s n=${xs.length}")
      if (xs.length >= 100) println(f"${name}_p90_s ${Layers.percentile(xs, 0.9)}%.4f s n=${xs.length}")
    }
    report("batch", primary.map(_.wallS))
    if (secondary.nonEmpty) {
      report("query", secondary.map(_.wallS))
      println(f"queries_per_s ${secondary.length / busy}%.4f 1/s n=${secondary.length}")
    }
    println(f"${wl.itemLabel}_per_s ${items / busy}%.2f 1/s over $busy%.2f s")
    println(f"error_rate ${failed.toDouble / math.max(attempted, 1L)}%.4f failed/attempted n=$attempted")
    e2e.foreach { case (n, u, v, k) => println(s"$n ${fmt(v)} $u n=$k") }

    val metrics: Seq[(String, String, Double)] =
      if (!o.trace) e2e.map { case (n, u, v, _) => (n, u, v) }
      else {
        val extras = wl.layerExtras ++ Map(
          "storage.files_on_disk" -> storeFiles.toDouble, "storage.bytes_on_disk" -> storeBytes.toDouble)
        val layer = Layers.compute(tr.spans.toSeq, work, primary.length, extras)
          .map(m => (m.name, m.unit, m.value)) ++ Seq(
            ("jvm.peak_heap_mb", "MB", peakHeapMb),
            ("trace.op_p50_s", "s", Layers.median(primary.map(_.wallS))),
            ("trace.items_per_s", "1/s", items / busy))
        layer.foreach { case (n, u, v) => println(s"$n ${fmt(v)} $u") }
        writeTrace(o.traceOut, tr, work)
        layer
      }
    tr.stop()
    spark.stop()

    // per-run work directory: remove it and make sure nothing is left
    val workDir = java.nio.file.Paths.get(o.work)
    deleteTree(workDir)
    val litter = java.nio.file.Files.exists(workDir)
    if (litter) System.err.println(s"perfbench: could not remove ${o.work}")

    val correct = failed == 0 && !litter
    val json = metrics.map { case (n, u, v) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }
      .mkString("{", ", ", "}")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": $json}""")
    if (correct) 0 else 1
  }

  /** Every span of the timed phase as one JSON line: name, start, end,
    * parent, operation id, self time, counters and the Spark work charged
    * to it. */
  private def writeTrace(path: String, tr: Tracer, work: Map[Long, SparkWork]): Unit = {
    val spans = tr.spans.sortBy(_.startNs)
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val children = spans.groupBy(_.parent)
    val lines = spans.map { s =>
      val w = work.getOrElse(s.id, new SparkWork)
      val self = s.seconds - children.getOrElse(s.id, Nil).map(_.seconds).sum
      val counters = (s.counters.toSeq ++ Seq(
        "spark.jobs" -> w.jobs.toDouble, "spark.stages" -> w.stages.toDouble,
        "spark.tasks" -> w.tasks.toDouble, "spark.executor_cpu_s" -> w.cpuNs / 1e9,
        "spark.job_wall_s" -> Layers.unionSeconds(w.jobIntervalsMs),
        "spark.shuffle_write_bytes" -> w.shuffleWrite.toDouble,
        "spark.shuffle_read_bytes" -> w.shuffleRead.toDouble,
        "spark.input_records" -> w.inputRecords.toDouble,
        "spark.failed_tasks" -> w.failedTasks.toDouble))
        .map { case (k, v) => s""""$k": ${fmt(v)}""" }.mkString("{", ", ", "}")
      s"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""start_s": ${fmt((s.startNs - t0) / 1e9)}, "end_s": ${fmt((s.endNs - t0) / 1e9)}, """ +
        s""""self_s": ${fmt(self)}, "counters": $counters}"""
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path), lines.asJava)
  }
}
