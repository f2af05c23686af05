package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
import graft.core.Json
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Driver contract: one pathological query must not zero the round — each
  * query runs on its own (daemon) thread under a watchdog
  * (`SPARK_GRAFT_QUERY_TIMEOUT_SEC`, default 600 s). On timeout its Spark
  * job group is cancelled (tasks interrupted) and the dump moves on; the
  * query is reported failed on stderr exactly like a thrown error, so the
  * driver records a per-query miss instead of an aborted gate. */
object Verify {

  /** Run `body` on its own thread with a timeout; returns None on success
    * or Some(message) on error/timeout. On timeout the job group `name`
    * is cancelled — Spark tasks die; a driver-side hang leaves only an
    * abandoned daemon thread behind, never a blocked gate. */
  private[graft] def runGuarded(
      spark: SparkSession, name: String, timeoutSec: Long)(
      body: => Unit): Option[String] = {
    val done = new java.util.concurrent.CountDownLatch(1)
    val err = new java.util.concurrent.atomic.AtomicReference[Throwable]()
    val t = new Thread(() => {
      try {
        spark.sparkContext.setJobGroup(name, name, interruptOnCancel = true)
        body
      } catch { case e: Throwable => err.set(e) }
      finally { spark.sparkContext.clearJobGroup(); done.countDown() }
    }, s"verify-$name")
    t.setDaemon(true)
    t.start()
    if (!done.await(timeoutSec, java.util.concurrent.TimeUnit.SECONDS)) {
      // cancel-until-dead: a SINGLE cancel races job submission — if the
      // worker is still planning, the group has no active jobs yet (the
      // "Failed to cancel job group … Cannot find active jobs" WARN) and
      // a job submitted AFTER the one-shot cancel runs unbounded, starving
      // every later query. Re-cancel each second until the worker thread
      // actually exits, then interrupt as a last resort.
      var waited = 0
      while (done.getCount > 0 && waited < 60) {
        spark.sparkContext.cancelJobGroup(name)
        done.await(1, java.util.concurrent.TimeUnit.SECONDS)
        waited += 1
      }
      if (done.getCount > 0) t.interrupt()
      Some(s"timed out after ${timeoutSec}s (job group cancelled)")
    } else Option(err.get).map(e => String.valueOf(e.getMessage))
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names (local iteration only —
    // the driver always runs the full inventory)
    val only = args.lift(2).map(_.split(",").toSet)
    val timeoutSec =
      sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT_SEC", "600").toLong
    val spark = Session.local(Session.cores(4))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        runGuarded(spark, name, timeoutSec) {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        }.foreach(msg => System.err.println(s"[verify] $name failed: $msg"))
      }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.quote(k)}: ${Json.quote(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
