package graft.tools

import java.nio.file.{Files, Paths}

/** Formatted-plan snapshots for a list of gates:
  * `sbt "Test/runMain graft.tools.PlanSnap <sfDir> <outDir> <q1,q2,...|ALL>"`
  * writes `<outDir>/<query>.txt` with `.explain("formatted")` output.
  * Bench session (`SPARK_GRAFT_CPUS` cores, default 32) so Exchange
  * counts and join strategies match what the bench actually executes.
  * NOTE: constructing an incremental gate's frame RUNS its store cycles —
  * plan capture for those gates costs one gate execution at the given SF. */
object PlanSnap {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val names: Seq[String] =
      if (args(2) == "ALL") graft.SparkEntry.queries.keys.toSeq.sorted
      else args(2).split(",").toSeq
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    for (n <- names) {
      try {
        val df = graft.SparkEntry.queries(n)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/$n.txt"), txt)
        println(s"PLAN_OK $n")
      } catch {
        case e: Throwable => println(s"PLAN_ERR $n: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
