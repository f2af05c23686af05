package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job trace for ONE gate: job id, duration, task count and the
  * callsite description — pinpoints which driver actions a store-backed
  * gate actually pays for. `sbt "Test/runMain graft.tools.JobTrace <sfDir> <q>"` */
object JobTrace {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val name = args(1)
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    case class J(id: Int, var start: Long = 0, var end: Long = 0,
      var tasks: Int = 0, var desc: String = "")
    val js = mutable.LinkedHashMap.empty[Int, J]
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val j = js.getOrElseUpdate(e.jobId, J(e.jobId))
        j.start = e.time
        j.desc = e.stageInfos.lastOption.map(_.name).getOrElse("?")
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        js.get(e.jobId).foreach(_.end = e.time)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        js.values.lastOption.foreach(_.tasks += 1)
      }
    })
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    Thread.sleep(800)
    println(f"== $name wall $wall%.2f s, ${js.size} jobs ==")
    js.values.foreach { j =>
      println(f"job ${j.id}%4d  ${(j.end - j.start) / 1000.0}%7.3f s  ${j.desc.take(110)}")
    }
    spark.stop()
  }
}
