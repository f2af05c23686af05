package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.EntityResolution

/** Persistent entity directory: one (name, id) dimension per entity type
  * (reference: the `entity.<type>` tables created by
  * `directory.create_entity_type`, src/minerva/directory/entitytype.py;
  * rows inserted `ON CONFLICT DO NOTHING` by virtual-entity / relation
  * materialization).
  *
  * graft shape: parquet per type under `<base>/<type>`; ids are
  * hash-allocated (`EntityResolution.resolveHash`) so inserts are
  * idempotent, coordination-free, and identical across re-runs — the
  * property the reference gets from `ON CONFLICT DO NOTHING` plus a
  * sequence, without the sequence's single-writer bottleneck. Entity
  * dimensions are small relative to trend data (≤10⁷ rows), so the
  * read-modify-append here is control-plane work.
  */
class EntityDirectory(spark: SparkSession, basePath: String) {

  private def fs = graft.core.HadoopFs.forPath(spark, basePath)

  private def path(entityType: String) =
    new org.apache.hadoop.fs.Path(s"$basePath/$entityType")

  /** The (name, id) dimension for a type; empty frame if never written or
    * created empty (`entity-type create` registers the directory before
    * any rows exist). */
  def read(entityType: String): DataFrame = {
    val hasData = fs.exists(path(entityType)) &&
      fs.listStatus(path(entityType)).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    if (hasData)
      spark.read.parquet(path(entityType).toString).select("name", "id")
    else {
      import org.apache.spark.sql.types._
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("name", StringType),
          StructField("id", LongType))))
    }
  }

  /** Register an entity type with no rows yet (`directory.create_entity_type`). */
  def create(entityType: String): Boolean =
    if (fs.exists(path(entityType))) false
    else fs.mkdirs(path(entityType))

  /** Drop an entity type and its dimension. */
  def delete(entityType: String): Boolean =
    fs.exists(path(entityType)) && fs.delete(path(entityType), true)

  /** All registered entity types. */
  def list(): Seq[String] = {
    val base = new org.apache.hadoop.fs.Path(basePath)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).filter(_.isDirectory)
      .map(_.getPath.getName).toSeq.sorted
  }

  /** Insert names not yet present (the reference's `ON CONFLICT DO
    * NOTHING`); returns the number of new entities. */
  def insertMissing(entityType: String, names: DataFrame): Long = {
    val dim = read(entityType)
    val missing = EntityResolution.missingEntities(names, dim)
    // one computation serves both the count and the write (the anti-join +
    // hash resolution would otherwise run twice)
    val withIds = EntityResolution.resolveHash(missing, dim, entityType)
      .select(col("name"), col("id").cast("long"))
      .persist()
    val n = withIds.count()
    if (n > 0)
      ParquetFiles.write(withIds, path(entityType).toString, SaveMode.Append)
    withIds.unpersist()
    n
  }

  /** Register `entity_<type>` temp views (dashes and other non-identifier
    * characters → underscores) so relation queries can reference entity
    * dimensions portably — graft's analogue of the reference's
    * `entity."<type>"` schema-qualified tables. */
  def registerViews(entityTypes: Seq[String]): Unit =
    entityTypes.foreach { t =>
      read(t).createOrReplaceTempView(EntityDirectory.viewName(t))
    }
}

object EntityDirectory {
  def viewName(entityType: String): String =
    "entity_" + entityType.replaceAll("[^A-Za-z0-9_]", "_")
}
