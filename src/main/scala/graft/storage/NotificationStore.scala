package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.Json
import graft.model.AttributeDef

/** Notification store: append-only event/notification table per data source
  * (reference: src/minerva/storage/notification/notificationstore.py:17-22 —
  * `(entity_id, timestamp, attrs…)` with PK (entity_id, timestamp); DDL
  * tables.py:58-115 adds indexes on timestamp and modified).
  *
  * graft shape: parquet append with a `created` stamp; the PK contract is
  * enforced on read via last-wins dedup (appends are cheap and conflict-free
  * across writers — the reference's single-row INSERT path becomes a batch
  * append; at scale, partition by day of `timestamp`).
  *
  * When constructed with YAML-declared `attributes`
  * ([[graft.model.NotificationStoreDef]] — the reference's typed
  * notification-table columns, tables.py:58-115), every stored batch is
  * validated against the declared types: a declared column present in the
  * batch is cast to its declared type under PostgreSQL assignment-cast
  * rules (numeric↔numeric and anything→text allowed; cross-family casts
  * such as text→integer rejected — exactly what the reference table's
  * INSERT would reject), and a declared column absent from the batch is
  * added as a typed NULL (the INSERT's unnamed-column default).
  */
class NotificationStore(
    spark: SparkSession, basePath: String,
    attributes: Seq[AttributeDef] = Seq.empty) {

  private def fs = graft.core.HadoopFs.forPath(spark, basePath)

  /** Effective typed declaration: explicit attributes win; otherwise the
    * persisted `_attributes.json` written at store creation (the
    * reference's notification-store DDL makes the table's types part of
    * the store itself — a writer doesn't need the YAML bundle in hand). */
  private lazy val declaredAttrs: Seq[AttributeDef] =
    if (attributes.nonEmpty) attributes
    else NotificationStore.readDeclaration(fs, basePath)

  /** Persist the typed declaration next to the data (underscore file —
    * invisible to parquet reads). */
  def persistDeclaration(): Unit =
    if (attributes.nonEmpty)
      NotificationStore.writeDeclaration(fs, basePath, attributes)

  private def assignmentCastable(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (f, t) if f == t => true
      case (_: NumericType, _: NumericType) => true
      case (_, StringType) => true
      case (f, t) => org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f, t)
    }

  /** The PostgreSQL-assignment-semantics cast for one declared column:
    * widening (Cast.canUpCast) is a plain cast; a NARROWING numeric cast
    * mirrors what the reference table's INSERT would do — fractional
    * values ROUND to integral targets (PG numeric→int rounds, Spark's
    * plain cast truncates) and an out-of-range value RAISES instead of
    * silently wrapping (the ADVICE-flagged double→smallint corruption):
    * try_cast yields NULL exactly on overflow, and a non-null input that
    * try_casts to null becomes raise_error at execution. */
  private def assignmentCast(c: org.apache.spark.sql.Column, name: String,
      from: DataType, to: DataType): org.apache.spark.sql.Column =
    if (from == to) c
    else if (org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(from, to))
      c.cast(to)
    else (from, to) match {
      case (_: NumericType, _: NumericType) =>
        val fractional: DataType => Boolean = {
          case DoubleType | FloatType | _: DecimalType => true
          case _ => false
        }
        val integral: DataType => Boolean = {
          case ByteType | ShortType | IntegerType | LongType => true
          case _ => false
        }
        // PostgreSQL assignment rounding is source-family-dependent:
        // float8/float4 → int uses rint (ties to even, bround); numeric →
        // int rounds ties away from zero (round). Mirror both.
        val prepared =
          if (fractional(from) && integral(to)) from match {
            case DoubleType | FloatType => bround(c)
            case _ => round(c)
          } else c
        val tried = prepared.try_cast(to)
        when(c.isNotNull && tried.isNull,
          raise_error(concat(
            lit(s"notification attribute '$name': value out of range for " +
              s"${to.simpleString}: "), c.cast(StringType))).cast(to))
          .otherwise(tried)
      case _ => c.cast(to) // anything → text and other allowed casts
    }

  /** Validate/cast a batch against the declared attribute types; identity
    * when the store is untyped. Throws IllegalArgumentException on a
    * cross-family type mismatch at plan time; raises at execution on an
    * out-of-range narrowing value. */
  def conform(batch: DataFrame): DataFrame =
    if (declaredAttrs.isEmpty) batch
    else {
      val present = batch.schema.fields.map(f => f.name -> f.dataType).toMap
      declaredAttrs.foldLeft(batch) { (df, a) =>
        present.get(a.name) match {
          case None =>
            df.withColumn(a.name, lit(null).cast(a.dataType.sparkType))
          case Some(t) if assignmentCastable(t, a.dataType.sparkType) =>
            df.withColumn(a.name,
              assignmentCast(col(a.name), a.name, t, a.dataType.sparkType))
          case Some(t) =>
            throw new graft.core.TypeMismatchException(
              s"notification attribute '${a.name}' declared " +
                s"${a.dataType.name} (${a.dataType.sparkType.simpleString}) " +
                s"but batch column is ${t.simpleString} — no assignment cast")
        }
      }
    }

  def store(batch: DataFrame, nowSec: Long): Unit =
    ParquetFiles.write(conform(batch).withColumn("created", lit(nowSec)),
      basePath, SaveMode.Append)

  /** All notifications; PK (entity_id, timestamp, rule) deduped last-wins
    * by created stamp. */
  def read(): Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(basePath)
    // a created-but-never-written store holds only _attributes.json — no
    // notifications yet (the exists-check alone stopped sufficing once
    // `create` started persisting declarations)
    def hasData = fs.listStatus(p).exists(s =>
      s.isDirectory || !s.getPath.getName.startsWith("_"))
    if (!fs.exists(p) || !hasData) None
    else {
      val raw = spark.read.option("mergeSchema", "true").parquet(basePath)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("entity_id", "timestamp", "rule")
        .orderBy(col("created").desc)
      Some(raw.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn"))
    }
  }
}

object NotificationStore {
  import org.apache.hadoop.fs.{FileSystem, Path}
  import graft.core.MinervaType

  private def declFile(basePath: String) = new Path(s"$basePath/_attributes.json")

  /** Create a typed notification store: persist its declaration (the
    * CLI's notification-store create). Pass the session's Hadoop
    * configuration so the declaration lands on the same filesystem the
    * store reads through. */
  def create(basePath: String, attrs: Seq[AttributeDef],
      conf: org.apache.hadoop.conf.Configuration =
        new org.apache.hadoop.conf.Configuration()): Unit =
    writeDeclaration(graft.core.HadoopFs.forPath(conf, basePath), basePath, attrs)

  private[storage] def writeDeclaration(
      fs: FileSystem, basePath: String, attrs: Seq[AttributeDef]): Unit = {
    fs.mkdirs(new Path(basePath))
    // JSON-quote the name: a quote/backslash/control char rendered raw
    // would make the declaration unparseable for every later writer
    val json = attrs.map(a =>
        s"""{"name":${Json.quote(a.name)},"data_type":"${a.dataType.name}"}""")
      .mkString("[", ",", "]")
    val out = fs.create(declFile(basePath), true)
    out.write(json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    out.close()
  }

  private[storage] def readDeclaration(
      fs: FileSystem, basePath: String): Seq[AttributeDef] = {
    val p = declFile(basePath)
    if (!fs.exists(p)) Seq.empty
    else {
      val in = fs.open(p)
      val text = try new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8) finally in.close()
      // JSON is a YAML subset; snakeyaml is already on the classpath
      import scala.jdk.CollectionConverters._
      val parsed = new org.yaml.snakeyaml.Yaml()
        .load[java.util.List[java.util.Map[String, String]]](text)
      if (parsed == null) Seq.empty
      else parsed.asScala.toSeq.map { m =>
        AttributeDef(m.get("name"),
          MinervaType.byName(m.get("data_type")).getOrElse(MinervaType.MText))
      }
    }
  }
}
