package graft.tools

import graft.storage.{PartStore, PartStoreConfig}
import org.apache.spark.sql.functions._

/** Evidence drive: the opt-in z-order write path
  * (`PartStore.store(..., zorderBy)`) must make parquet min/max stats
  * skip data on the SECOND clustering dimension — the one a
  * single-column sort cannot serve. Ingests sf0.1 events twice (plain
  * vs z-ordered), runs the same second-dimension filter, and compares
  * rows surviving the scan (row-group/file skipping happens below the
  * scan, so fewer scan-output rows = stats actually pruned). */
object ZorderDrive {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    // many write tasks → ~16 files per pindex dir, each covering a
    // 1/16th Morton rectangle — the unit the reader can skip (top 4
    // zkey bits fixed per file = both dims bounded to quarter ranges)
    spark.conf.set("spark.sql.shuffle.partitions", "512")
    val events = graft.Tables.load(spark, "/root/testdata/sf0.1", "events")
      .select(
        col("user_id").as("entity_id"),
        expr("ts div 1000000000").as("timestamp"),
        pmod(col("user_id"), lit(1024)).cast("long").as("user_m"),
        pmod(col("event_id"), lit(1024)).cast("long").as("event_m"))
      .withColumn("modified", lit(1L))
    val fs = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def ingest(name: String, zorderBy: Seq[String]): PartStore = {
      val base = s"target/tmp/zorder_drive_$name"
      fs.delete(new org.apache.hadoop.fs.Path(base), true)
      val ps = new PartStore(spark, PartStoreConfig(base, 86400))
      ps.store("events_15m", events, zorderBy = zorderBy)
      ps
    }
    def scanRows(ps: PartStore): (Long, Long) = {
      // filter on the SECOND z-order dimension only
      val q = ps.readPart("events_15m").get.filter(col("event_m") < 64)
      val kept = q.collect().length.toLong // executes THIS plan instance
      val scan = q.queryExecution.executedPlan.collectLeaves().head
      (scan.metrics("numOutputRows").value, kept)
    }
    val plain = scanRows(ingest("plain", Seq.empty))
    val z = scanRows(ingest("z", Seq("user_m", "event_m")))
    println(s"KEPT_ROWS=${z._2} (plain kept ${plain._2})")
    println(s"SCAN_ROWS_PLAIN=${plain._1}")
    println(s"SCAN_ROWS_ZORDER=${z._1}")
    assert(z._2 == plain._2, "layout must not change query results")
    assert(z._1 < plain._1 / 2,
      s"z-order should skip most data on the second dimension: ${z._1} vs ${plain._1}")
    println("ZORDER_DRIVE_OK")
    spark.stop()
  }
}
