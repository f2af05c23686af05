package graft.operators

import graft.storage.{ParquetFiles, PartStore}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The incremental materialization loop (reference §3.2: scheduler query over
  * materialization_state, then `trend_directory.materialize(id, ts)` per
  * stale chunk — src/minerva/commands/trend_store.py:1034-1189,
  * live_monitor.py:40-45).
  *
  * graft shape: source fingerprints (from the modified log) vs the processed
  * fingerprints in a state table → stale chunk list (driver-side; the state
  * is |targets|×|retained windows|, tiny) → run the registered transformation
  * for each chunk window → MERGE into the target part → record the processed
  * fingerprint. Chunk recompute is the only heavy work and it prunes to the
  * chunk's partitions.
  */
final case class MaterializationSpec(
    target: String,
    /** chunk epoch-seconds → DataFrame of rows for that chunk */
    compute: Long => DataFrame,
    stabilityDelaySec: Long = 300,
    retentionSec: Long = 3L * 86400
)

class MaterializationRunner(spark: SparkSession, parts: PartStore, statePath: String) {

  private val StateSchema =
    org.apache.spark.sql.types.StructType.fromDDL("chunk BIGINT, fingerprint STRING")

  private def fs = graft.core.HadoopFs.forPath(spark, statePath)

  /** The processed (chunk, fingerprint) state of one target; empty only
    * when no state was ever written. Any other read failure (a corrupt or
    * unreadable state file) propagates: treating it as "no state" would
    * silently mark every chunk stale and recompute it. */
  def state(target: String): DataFrame = {
    val p = s"$statePath/$target"
    if (fs.exists(new org.apache.hadoop.fs.Path(p))) spark.read.schema(StateSchema).parquet(p)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], StateSchema)
  }

  /** One scheduler pass; returns the chunks materialized. Newest-first with
    * an optional limit mirrors the reference's ORDER BY ts DESC / LIMIT
    * (F1/F2, trend_store.py:1077-1084). */
  def run(
      spec: MaterializationSpec,
      sourceFingerprints: DataFrame, // (chunk, fingerprint, max_modified)
      nowSec: Long,
      maxChunks: Int = 50
  ): Seq[Long] = {
    val stale = Materialization.staleChunks(sourceFingerprints, state(spec.target), "chunk")
    val ready = Materialization.stableChunks(
      stale, "chunk", "max_modified", nowSec, spec.stabilityDelaySec, spec.retentionSec)
    val chunks = ready.select("chunk", "fingerprint")
      .orderBy(desc("chunk")).limit(maxChunks).collect()
    chunks.foreach { row =>
      val chunk = row.getLong(0)
      parts.store(spec.target, spec.compute(chunk))
    }
    if (chunks.nonEmpty) {
      import spark.implicits._
      val processed = chunks.map(r => (r.getLong(0), r.getString(1))).toSeq
        .toDF("chunk", "fingerprint")
      val merged = state(spec.target).join(processed, Seq("chunk"), "left_anti")
        .unionByName(processed)
      val tmp = s"$statePath/${spec.target}__tmp"
      ParquetFiles.write(merged, tmp, SaveMode.Overwrite)
      val dst = new org.apache.hadoop.fs.Path(s"$statePath/${spec.target}")
      fs.delete(dst, true)
      fs.rename(new org.apache.hadoop.fs.Path(tmp), dst)
    }
    chunks.map(_.getLong(0)).toSeq
  }
}
