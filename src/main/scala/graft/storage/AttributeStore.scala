package graft.storage

import graft.operators.AttributeOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Attribute store: slowly-changing attributes per (data_source, entity_type)
  * (reference: src/minerva/storage/attribute/attributestore.py — staging →
  * history transfer at 271-316, compaction 261-269, curr-ptr
  * src/minerva/commands/attribute_store.py:523-579).
  *
  * graft shape: `stage` = the incoming batch DataFrame (no physical staging
  * table needed — the reference stages only to get data into the DB);
  * `transferStaged` appends to the history parquet with a `modified` stamp;
  * `compacted`/`current` are derived views.
  *
  * Layout at scale: history is hive-partitioned by `abucket =
  * pmod(xxhash64(entity_id), buckets)` so a single-entity audit
  * ([[forEntity]]) prunes to one directory instead of scanning the full
  * history, and per-bucket maintenance (compaction, expiry) touches 1/Nth
  * of the store at a time. The bucket count is a layout constant per store
  * — size it so one bucket's history fits an executor (1024 at 100 TB).
  * Pre-bucketing stores (root-level parquet files) are detected and kept
  * on the flat layout — mixing both under one root would break partition
  * discovery. Derived views drop the bucket column; it is layout, not
  * data.
  */
class AttributeStore(spark: SparkSession, basePath: String, buckets: Int = 16) {

  private def historyPath = s"$basePath/history"

  private def fs = graft.core.HadoopFs.forPath(spark, basePath)

  def history: Option[DataFrame] = {
    val p = new org.apache.hadoop.fs.Path(historyPath)
    // a dir holding only markers (_buckets / _schema.json — e.g. a crash
    // before the first data write) has no history yet
    def hasData = fs.listStatus(p).exists(s =>
      s.isDirectory || !s.getPath.getName.startsWith("_"))
    if (!fs.exists(p) || !hasData) None
    else SchemaSidecar.read(fs, historyPath) match {
      case Some(sc) => Some(spark.read.schema(sc).parquet(historyPath))
      case None =>
        Some(spark.read.option("mergeSchema", "true").parquet(historyPath))
    }
  }

  /** Append a staged batch (entity_id, timestamp, attrs…) to history. The
    * schema sidecar is union-merged (shared numeric columns widened — the
    * sidecar stays a superset, narrower files upcast on read) and written
    * BEFORE the append. A pre-sidecar history seeds the union from the
    * actual file schema, so earlier columns are never hidden. A genuinely
    * un-widenable type conflict REFUSES the batch — appending it would
    * poison every subsequent footer-merge read with incompatible types. */
  /** True when the history predates bucketing (parquet files at the dir
    * root) — appends then stay flat, since Spark's partition discovery
    * rejects a root that mixes data files and partition directories. */
  private def legacyFlatLayout: Boolean = {
    val p = new org.apache.hadoop.fs.Path(historyPath)
    fs.exists(p) && fs.listStatus(p).exists(s =>
      s.isFile && s.getPath.getName.endsWith(".parquet"))
  }

  /** The layout's bucket count is persisted next to the data on first
    * partitioned write; opening an existing store with a different
    * `buckets` argument would otherwise make every [[forEntity]] lookup
    * silently scan the wrong bucket. The stored value always wins. */
  private def bucketsPath = new org.apache.hadoop.fs.Path(historyPath, "_buckets")

  private def storedBuckets: Option[Long] =
    if (!fs.exists(bucketsPath)) None
    else {
      val in = fs.open(bucketsPath)
      try Some(new String(in.readAllBytes(),
        java.nio.charset.StandardCharsets.UTF_8).trim.toLong)
      finally in.close()
    }

  private def effectiveBuckets: Long = storedBuckets.getOrElse(buckets.toLong)

  private def writeBucketCount(n: Long): Unit = {
    val out = fs.create(bucketsPath, true)
    try out.write(n.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  // hash at LongType always: xxhash64 is type-sensitive, and forEntity's
  // read-side filter hashes a Long literal — an int-typed batch would
  // otherwise land in a bucket the partition filter never probes
  private def bucketCol =
    pmod(xxhash64(col("entity_id").cast("long")), lit(effectiveBuckets))

  def transferStaged(batch: DataFrame, nowSec: Long): Unit = {
    val stamped = batch.withColumn("modified", lit(nowSec))
    val flat = legacyFlatLayout
    // fallback schema read must run BEFORE the marker write below creates
    // the (still data-less) history directory
    val saved = SchemaSidecar.read(fs, historyPath)
      .orElse(history.map(_.schema)) // pre-sidecar files → mergeSchema read
    if (!flat && storedBuckets.isEmpty) writeBucketCount(buckets.toLong)
    val toWrite =
      if (flat) stamped else stamped.withColumn("abucket", bucketCol)
    SchemaSidecar.merged(saved, toWrite.schema) match {
      case Some(sc) => SchemaSidecar.write(fs, historyPath, sc)
      case None => throw new graft.core.TypeMismatchException(
        s"attribute batch schema ${stamped.schema.simpleString} conflicts " +
          s"with stored history ${saved.get.simpleString} — cast the batch " +
          "to the stored types before transfer")
    }
    // co-locate each bucket's rows before the write: one file per bucket
    // per batch instead of |tasks|×|buckets| small files (attribute
    // batches are entity-metadata-sized; a bucket per task is the right
    // chunking at any scale)
    val arranged = if (flat) toWrite else toWrite.repartition(col("abucket"))
    ParquetFiles.write(arranged, historyPath, SaveMode.Append,
      if (flat) Nil else Seq("abucket"))
  }

  /** One entity's full attribute history — on the bucketed layout the
    * foldable bucket predicate becomes a PartitionFilter, so the scan reads
    * one `abucket=` directory, not the store. */
  def forEntity(entityId: Long): Option[DataFrame] = history.map { h =>
    val byId = h.filter(col("entity_id") === entityId)
    if (h.columns.contains("abucket"))
      byId.filter(col("abucket") === pmod(xxhash64(lit(entityId)), lit(effectiveBuckets)))
        .drop("abucket")
    else byId
  }

  /** Declared history schema (sidecar), present even before any data —
    * what `attribute-store show` reports for an empty created store. */
  def declaredSchema: Option[org.apache.spark.sql.types.StructType] =
    SchemaSidecar.read(fs, historyPath)

  /** Value columns: everything that isn't a key/meta/layout column. */
  private def valueColumns(h: DataFrame): Seq[String] =
    h.columns.filterNot(Set("entity_id", "timestamp", "modified", "job_id",
      "abucket")).toSeq

  /** Materialize the run-length compaction as a physical table
    * (reference `attribute-store compact` → attribute_directory
    * compaction, attributestore.py:261-269): writes `<base>/compacted`,
    * returns its row count. */
  def materializeCompacted(): Long = history match {
    case None => 0L
    case Some(h) =>
      ParquetFiles.write(compacted(valueColumns(h)).get, s"$basePath/compacted",
        SaveMode.Overwrite)
      spark.read.parquet(s"$basePath/compacted").count()
  }

  /** Run-length-compacted history (D10). */
  def compacted(valueCols: Seq[String]): Option[DataFrame] =
    history.map(h => AttributeOps.compact(h.drop("abucket"), "entity_id",
      Seq("timestamp", "modified"), valueCols))

  /** Latest attribute row per entity (curr-ptr, D9/E1). */
  def current: Option[DataFrame] =
    history.map(h => AttributeOps.currentPtr(h.drop("abucket"), "entity_id",
      Seq("timestamp", "modified")))

  /** SCD-2 view with validity ranges. */
  def scd2(valueCols: Seq[String]): Option[DataFrame] =
    history.map(h => AttributeOps.scd2(h.drop("abucket"), "entity_id",
      "timestamp", Seq("modified"), valueCols))

  /** Materialize the curr-ptr view as a physical snapshot (the reference's
    * attribute_store curr-ptr materialization, commands/attribute_store.py:
    * 523-579). Reads history, writes `<base>/current`; returns the row
    * count. Safe to overwrite directly: `current` derives from the history
    * dir, not from the snapshot being replaced. */
  def materializeCurrent(): Long = current match {
    case None => 0L
    case Some(cur) =>
      ParquetFiles.write(cur, s"$basePath/current", SaveMode.Overwrite)
      spark.read.parquet(s"$basePath/current").count()
  }

  /** The materialized current snapshot, if one has been written. */
  def currentSnapshot: Option[DataFrame] =
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$basePath/current"))) None
    else Some(spark.read.parquet(s"$basePath/current"))

  /** Incremental curr-ptr refresh: fold only history rows stamped AFTER
    * the previous snapshot's high-water `modified` into that snapshot,
    * instead of re-deriving from the full history — at scale the refresh
    * cost tracks the batch, not the store. Falls back to the full
    * [[materializeCurrent]] when no snapshot exists. Columns added to the
    * history since the snapshot appear as NULL in carried-over rows
    * (unionByName with missing columns), exactly as a full re-derive would
    * produce for entities whose rows predate the column.
    *
    * The snapshot is both input and output, so the new state is staged to
    * `current.next` and swapped in (the read plan would otherwise see its
    * own overwrite). */
  def materializeCurrentIncremental(): Long = currentSnapshot match {
    case None => materializeCurrent()
    case Some(snap) =>
      val lastRow = snap.agg(max("modified")).head()
      // zero-row snapshot: max() is NULL — re-derive from scratch rather
      // than folding against an undefined high-water mark
      if (lastRow.isNullAt(0)) materializeCurrent()
      else {
        val last = lastRow.getLong(0)
        val fresh = history.get.drop("abucket").filter(col("modified") > last)
        val next = AttributeOps.currentPtr(
          snap.unionByName(fresh, allowMissingColumns = true),
          "entity_id", Seq("timestamp", "modified"))
        val tmp = s"$basePath/current.next"
        ParquetFiles.write(next, tmp, SaveMode.Overwrite)
        val live = new org.apache.hadoop.fs.Path(s"$basePath/current")
        // rename-aside swap (PartStore's protocol): the old snapshot is
        // never DELETED before its replacement lands — a crash inside the
        // two-rename window leaves `current` absent but the data intact in
        // `.current_old` / `current.next` (recovered by the next refresh's
        // full re-derive); readers racing the window see a missing dir,
        // not corrupt data
        val aside = new org.apache.hadoop.fs.Path(s"$basePath/.current_old")
        if (fs.exists(aside)) fs.delete(aside, true)
        if (!fs.rename(live, aside))
          throw new java.io.IOException(s"failed to move aside $live")
        if (!fs.rename(new org.apache.hadoop.fs.Path(tmp), live)) {
          fs.rename(aside, live) // restore; the refresh can be retried
          throw new java.io.IOException(s"failed to swap in $tmp")
        }
        fs.delete(aside, true)
        spark.read.parquet(s"$basePath/current").count()
      }
  }
}

object AttributeStore {
  /** Create an empty attribute store with a declared, typed history
    * sidecar (reference `attribute-store create`,
    * commands/attribute_store.py:45-101): later staged transfers
    * union-merge against the declared types instead of deducing them from
    * whichever batch happens to arrive first.
    *
    * Returns false (and writes NOTHING) when the store already has any
    * history state — overwriting a live union-merged sidecar with the
    * bare declaration would drop the bucket column and any widened types,
    * poisoning reads (the reference raises DuplicateTrendStore-style on
    * re-create too). */
  def create(
      spark: SparkSession,
      basePath: String,
      attributes: Seq[graft.model.AttributeDef]): Boolean = {
    import org.apache.spark.sql.types._
    val fs = graft.core.HadoopFs.forPath(spark, basePath)
    if (fs.exists(new org.apache.hadoop.fs.Path(s"$basePath/history"))) false
    else {
      val fields = Seq(
        StructField("entity_id", LongType),
        StructField("timestamp", LongType),
        StructField("modified", LongType)) ++
        attributes.map(a => StructField(a.name, a.dataType.sparkType))
      SchemaSidecar.write(fs, s"$basePath/history", StructType(fields))
      true
    }
  }
}
