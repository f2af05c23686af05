package graft.tools

import org.apache.spark.scheduler._
import java.util.concurrent.atomic.{AtomicLong, LongAdder}

/** Execution-shape probe for a gate: runs `queries(name)` construction +
  * one count() under a SparkListener and reports jobs, stages, tasks,
  * shuffle bytes and executor CPU — the evidence for "this change removed
  * N jobs / M shuffled bytes" claims on store-backed gates whose work
  * happens in side-effect actions (where a final-frame explain shows
  * nothing). `sbt "Test/runMain graft.tools.JobStats <sfDir> <q1,q2,...>"` */
object JobStats {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq.empty)
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicLong
    val stages = new AtomicLong
    val tasks = new LongAdder
    val shufW = new LongAdder
    val shufR = new LongAdder
    val cpuNs = new LongAdder
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        stages.incrementAndGet()
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.increment()
        val m = t.taskMetrics
        if (m != null) {
          shufW.add(m.shuffleWriteMetrics.bytesWritten)
          shufR.add(m.shuffleReadMetrics.totalBytesRead)
          cpuNs.add(m.executorCpuTime)
        }
      }
    })
    for (n <- names) {
      jobs.set(0); stages.set(0); tasks.reset(); shufW.reset(); shufR.reset(); cpuNs.reset()
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: drain it DETERMINISTICALLY before reading —
      // a fixed sleep undercounted jobs/stages on a loaded box (ADVICE r18)
      org.apache.spark.GraftSparkTestBridge
        .waitListenerBusEmpty(spark.sparkContext, 30000L)
      println(f"$n%-28s wall $wall%7.2f s  jobs ${jobs.get}%4d  stages ${stages.get}%5d  " +
        f"tasks ${tasks.sum}%6d  shufW ${shufW.sum / 1024}%8d KiB  shufR ${shufR.sum / 1024}%8d KiB  " +
        f"cpu ${cpuNs.sum / 1e9}%7.2f s")
    }
    spark.stop()
  }
}
