package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Job log (reference: src/minerva/logging/__init__.py:4-22 start_job /
  * end_job; trend rows carry the loading job's id,
  * trendstorepart.py:440-454).
  *
  * Parquet-backed append-only log at `$basePath/_job_log`: one `start`
  * record and one `end` record per job; current state = fold over records
  * (same pattern as the modified log — append-only survives concurrent
  * writers on a filesystem without transactions).
  *
  * Job ids are allocated driver-side (max existing + 1): jobs are control
  * events (one per load), so the metadata read is a few KB — never on a
  * data path.
  */
class JobLog(spark: SparkSession, basePath: String) {
  private val logPath = s"$basePath/_job_log"

  private def fs = graft.core.HadoopFs.forPath(spark, logPath)
  private def exists = fs.exists(new org.apache.hadoop.fs.Path(logPath))

  private def raw: Option[DataFrame] =
    if (!exists) None else Some(spark.read.parquet(logPath))

  private def eventDf(rows: Seq[(Long, String, String, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("job_id", "description", "event", "event_sec")
  }

  /** Allocate an id and record the start (logging/__init__.py:4-12).
    * Id allocation is read-max-then-append: safe for the reference's model
    * of one loader per store (its PG sequence serializes ids the same way
    * a single writer does here); concurrent loaders against one store
    * would need an external coordinator — same caveat as PartStore writes. */
  def startJob(description: String, nowSec: Long): Long = {
    val id = raw.map(_.agg(coalesce(max("job_id"), lit(0L)).cast("long"))
      .first().getLong(0)).getOrElse(0L) + 1L
    ParquetFiles.write(eventDf(Seq((id, description, "start", nowSec))), logPath,
      SaveMode.Append)
    id
  }

  /** Record completion (logging/__init__.py:15-22). */
  def endJob(jobId: Long, nowSec: Long): Unit =
    ParquetFiles.write(eventDf(Seq((jobId, "", "end", nowSec))), logPath,
      SaveMode.Append)

  /** Current job table: (job_id, description, started, finished?) — the
    * empty case carries the full schema so downstream selects/joins work
    * against a store with no jobs yet. */
  def jobs: DataFrame = {
    val df = raw.getOrElse(eventDf(Seq.empty))
    df.groupBy("job_id").agg(
      max(when(col("event") === "start", col("description"))).as("description"),
      min(when(col("event") === "start", col("event_sec"))).as("started"),
      max(when(col("event") === "end", col("event_sec"))).as("finished"))
  }
}
