package graft.operators

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.PgSqlCompat
import graft.model.{Instance, Materialization, RelationDef, Trigger, VirtualEntityDef}
import graft.storage.{EntityDirectory, ParquetFiles, PartStore}

/** Instance bring-up derivatives: materialize the virtual entities and
  * relations of a loaded instance bundle (the reference's
  * `initialize_derivatives`, commands/initialize.py:150-156 —
  * `materialize_virtual_entities` then `materialize_relations`).
  *
  * Scale note: entity directories and relation edge sets are
  * dimension-sized (≤10⁷ rows), so everything here is control-plane work
  * next to the trend data; the relation queries themselves run as ordinary
  * Spark SQL and get the full optimizer.
  */
object InstanceInit {

  /** Materialize one virtual entity: run the view SELECT (must yield a
    * `name` column) and insert missing names into the directory
    * (virtual_entity.py:30-57: `INSERT INTO entity.<t> (name) SELECT name
    * FROM virtual_entity.<t> ON CONFLICT DO NOTHING`). Returns the number
    * of newly created entities. */
  def materializeVirtualEntity(
      spark: SparkSession, ve: VirtualEntityDef, dir: EntityDirectory): Long = {
    val select = ve.viewSelect.getOrElse(throw new IllegalArgumentException(
      s"virtual entity '${ve.name}' has no extractable CREATE VIEW … AS SELECT body"))
    val names = spark.sql(PgSqlCompat.rewriteQuery(select))
      .select(col("name").cast("string").as("name"))
    dir.insertMissing(ve.name, names)
  }

  /** Materialize every virtual entity of an instance; returns
    * type → new-entity count. */
  def materializeVirtualEntities(
      spark: SparkSession, inst: Instance, dir: EntityDirectory): Map[String, Long] =
    inst.virtualEntities.map(ve =>
      ve.name -> materializeVirtualEntity(spark, ve, dir)).toMap

  /** Materialize one relation: register the `entity_<type>` views for its
    * source/target types, run the query (must yield source_id, target_id),
    * and overwrite `<outBase>/<name>` (the reference's `TRUNCATE; INSERT
    * INTO relation.<name>`, commands/relation.py:50-95). Returns the edge
    * count. */
  def materializeRelation(
      spark: SparkSession, rel: RelationDef, dir: EntityDirectory,
      outBase: String): Long = {
    dir.registerViews(Seq(rel.sourceEntityType, rel.targetEntityType).distinct)
    // verbatim reference bundles carry PostgreSQL (`entity."node"`,
    // `substring(x from '…')`) — rewritten to the portable contract
    val edges = spark.sql(PgSqlCompat.rewriteQuery(rel.query))
      .select(col("source_id").cast("long"), col("target_id").cast("long"))
    // stage-then-swap is unnecessary here: relation sets are tiny and the
    // overwrite is atomic at the directory level for single-writer init
    ParquetFiles.write(edges, s"$outBase/${rel.name}", SaveMode.Overwrite)
    spark.read.parquet(s"$outBase/${rel.name}").count()
  }

  /** Materialize every relation of an instance; returns name → edge count. */
  def materializeRelations(
      spark: SparkSession, inst: Instance, dir: EntityDirectory,
      outBase: String): Map[String, Long] =
    inst.relations.map(r =>
      r.name -> materializeRelation(spark, r, dir, outBase)).toMap

  /** Read a materialized relation as an edge DataFrame. */
  def readRelation(spark: SparkSession, outBase: String, name: String): DataFrame =
    spark.read.parquet(s"$outBase/$name")

  /** Run one view-defined trend materialization (the `view:` field of a
    * bundle materialization YAML — trend_materialization.py's
    * VIEW_MATERIALIZATION kind): register `trend_<part>` views for the
    * declared sources, run the (rewritten) view SQL, and store the result
    * into the target part. Returns affected partition count; 0 when a
    * source part has no data yet or the definition has no view. */
  def runViewMaterialization(
      spark: SparkSession, m: Materialization, ps: PartStore,
      nowSec: Long): Int =
    m.view match {
      case None => 0
      case Some(viewSql) =>
        val sources = m.sources.map(s => s.trendStorePart -> ps.readPart(s.trendStorePart))
        if (sources.exists(_._2.isEmpty)) 0
        else {
          sources.foreach { case (name, df) =>
            df.get.createOrReplaceTempView(
              "trend_" + name.replaceAll("[^A-Za-z0-9_]", "_"))
          }
          val out = spark.sql(PgSqlCompat.rewriteQuery(viewSql))
            .withColumn("modified", lit(nowSec))
          ps.store(m.targetTrendStorePart, out)
        }
    }

  /** Build an executable [[TriggerRule]] from a trigger definition,
    * rewriting the reference's PostgreSQL scalar fragments (`$1.x`,
    * `ARRAY[…]`, `format(…)`, `::json`) to Spark expressions. */
  def triggerRule(t: Trigger): TriggerRule = {
    def rw(s: String) = PgSqlCompat.rewriteScalar(s)
    TriggerRule(
      t.name,
      t.thresholds.map(th => th.name -> th.value).toMap,
      rw(t.condition),
      if (t.weight.nonEmpty) rw(t.weight) else "1",
      expr(if (t.notification.nonEmpty) rw(t.notification) else s"'${t.name}'"),
      if (t.data.nonEmpty) Some(expr(rw(t.data))) else None)
  }
}
