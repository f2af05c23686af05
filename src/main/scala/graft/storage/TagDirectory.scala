package graft.storage

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Entity tags + tag groups (reference: src/minerva/directory/tag.py:1-6,
  * taggroup.py:1-5, and the link maintenance in
  * src/minerva/storage/attribute/tag.py — `tag_attributes` inserts
  * case-insensitively matched links that do not yet exist, `flush_tag_links`
  * deletes one tag's links). Tags scope entity sets: reference users select
  * the entities a report or aggregation runs over by tag.
  *
  * graft shape: ONE parquet link table `(tag_group, tag, entity_id)` under
  * `<base>/_tags`. The reference's surrogate tag ids exist only because SQL
  * link tables need keys; here the lowercased name IS the key (the
  * reference joins `lower(tag.name) = lower(tmp.tag)` anyway —
  * attribute/tag.py:24). Tag links are directory-scale (≤ entities ×
  * groups, ≪ trend data), so the idempotent insert's read-anti-join-append
  * and the flush's rewrite are control-plane work, and [[scope]] broadcasts
  * the selected entity set — a tag-scoped aggregation adds NO shuffle to
  * the plan it scopes. */
class TagDirectory(spark: SparkSession, basePath: String) {

  private def fs = graft.core.HadoopFs.forPath(spark, basePath)
  private def linkPath = new org.apache.hadoop.fs.Path(s"$basePath/_tags")

  // ---- crash-safe swap + writer lease (PartStore's protocol, scaled to
  // the two directory-sized link tables). The r16 shape — delete(live)
  // then rename(staged) — lost the WHOLE table if a crash or rename
  // failure landed between the two calls, and links() then silently read
  // empty: total tag-data loss with no recovery path. Now: rename live →
  // .aside, rename staged → live (roll the aside back on failure), delete
  // the aside LAST. recoverTable() — which MUTATES (restores the aside,
  // deletes leftover staged dirs) — runs ONLY under the table lease, at
  // lease acquisition, so a leftover aside is restored (crash mid-swap:
  // the interrupted flush is simply re-run) or dropped (crash after
  // swap-in: the aside is stale), never surfaced as an empty table. The
  // READ path never mutates while a writer may be active: the r17 shape
  // ran recoverTable lease-free before every read, so a reader could
  // delete a concurrent writer's freshly staged parquet mid-flush, or
  // restore the aside between swapIn's two renames — after which the
  // writer's rename(staged, live) fails spuriously (or, on HDFS, moves
  // staged INSIDE live, silently discarding the flush). Readers now
  // resolve a read target instead ([[readTarget]]): live if present, the
  // aside snapshot while a leased writer is mid-swap, and only a
  // lease-acquired recovery when a crashed swap left an aside with no
  // live table and no active lease. A create-exclusive lease file
  // serializes writers per table — without it a concurrent tagEntities
  // APPEND could interleave with a flush's swap and vanish. ----

  private def asidePath(live: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(live.getParent, s".${live.getName}_aside")
  private def stagedPath(live: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(live.getParent, s"${live.getName}.staged")

  private def leaseFile(live: org.apache.hadoop.fs.Path) =
    new org.apache.hadoop.fs.Path(live.getParent, s".${live.getName}__lease")

  /** MUTATING recovery — callers must hold the table lease (it deletes
    * staged dirs and moves the aside, both of which race an in-flight
    * swap if run lease-free). [[withTableLease]] runs it right after
    * acquisition, so every write body starts from a consistent table. */
  private def recoverTable(live: org.apache.hadoop.fs.Path): Unit = {
    val aside = asidePath(live)
    if (fs.exists(aside)) {
      if (!fs.exists(live)) {
        // crash between the two swap renames: the aside is the ONLY copy
        if (!fs.rename(aside, live)) throw new IllegalStateException(
          s"tag recovery: restore $aside -> $live failed")
      } else fs.delete(aside, true) // crash after swap-in: aside is stale
    }
    fs.delete(stagedPath(live), true) // incomplete or superseded either way
  }

  /** Resolve which directory a READER should load — never mutates while a
    * writer may be active. Live wins; a leftover aside with a lease
    * present means a writer is mid-swap, and the aside IS the pre-swap
    * snapshot (a consistent read); an aside with NO live table and NO
    * lease is a crashed swap, recovered under the lease (the only
    * mutating branch, serialized with writers). Returns None only when
    * the table was never written. */
  private def readTarget(
      live: org.apache.hadoop.fs.Path): Option[org.apache.hadoop.fs.Path] = {
    if (fs.exists(live)) Some(live)
    else {
      val aside = asidePath(live)
      if (!fs.exists(aside)) None
      else if (fs.exists(leaseFile(live))) Some(aside) // writer mid-swap
      else {
        // crashed mid-swap: restore under the lease (recoverTable runs at
        // acquisition). A concurrent writer beating us to the lease also
        // recovers — fall back to whatever is readable afterwards.
        try withTableLease(live) { () }
        catch { case _: graft.core.ConcurrentWriterException => () }
        if (fs.exists(live)) Some(live)
        else if (fs.exists(aside)) Some(aside)
        else None
      }
    }
  }

  /** Swap `staged` in as the new `live` table: aside-rename protocol,
    * rollback on failure, aside deleted last (never both dirs lost). */
  private def swapIn(live: org.apache.hadoop.fs.Path): Unit = {
    val staged = stagedPath(live)
    val aside = asidePath(live)
    val hadLive = fs.exists(live)
    if (hadLive && !fs.rename(live, aside))
      throw new IllegalStateException(s"tag swap: move-aside $live failed")
    val ok =
      try fs.rename(staged, live)
      catch { case t: Throwable =>
        if (hadLive) fs.rename(aside, live) // roll back before rethrowing
        throw t
      }
    if (!ok) {
      if (hadLive) fs.rename(aside, live)
      throw new IllegalStateException(s"tag swap: rename $staged -> $live failed")
    }
    if (hadLive) fs.delete(aside, true)
  }

  // lease file beside the table (create-exclusive = atomic on HDFS); held
  // across the whole read-transform-swap. Tag mutations are control-plane
  // operations (seconds), so contention is refused after a short wait and
  // a lease older than the TTL is a crashed writer and is taken over —
  // FENCED by a heartbeat: the holder touches the lease mtime every
  // TTL/4, so a slow-but-alive writer never looks stale and the takeover
  // (delete + create-exclusive reacquire, which only one waiter can win)
  // hits genuinely dead holders only. recoverTable runs at acquisition:
  // every leased body starts from a consistent table, and the mutating
  // recovery is itself serialized with all other writers.
  private val leaseWaitMs = 10000L
  private val leaseTtlMs = 600000L

  private def withTableLease[A](live: org.apache.hadoop.fs.Path)(body: => A): A = {
    val lease = leaseFile(live)
    fs.mkdirs(live.getParent)
    val deadline = System.currentTimeMillis() + leaseWaitMs
    var acquired = false
    while (!acquired) {
      try {
        fs.create(lease, false).close()
        acquired = true
      } catch {
        case _: java.io.IOException =>
          val age =
            try System.currentTimeMillis() -
              fs.getFileStatus(lease).getModificationTime
            catch { case _: java.io.FileNotFoundException => Long.MaxValue }
          if (age > leaseTtlMs) fs.delete(lease, false) // dead writer
          else if (System.currentTimeMillis() >= deadline)
            throw new graft.core.ConcurrentWriterException(
              s"tag-table lease ${lease.getName} is held by another writer " +
                s"(waited $leaseWaitMs ms) — tag mutations serialize per table")
          else Thread.sleep(50)
      }
    }
    // heartbeat: keep the lease mtime fresh while the body runs, so the
    // TTL takeover path cannot fire on a live holder mid-operation
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(leaseTtlMs / 4)
          try fs.setTimes(lease, System.currentTimeMillis(), -1)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"tag-lease-hb-${live.getName}")
    hb.setDaemon(true)
    hb.start()
    try {
      recoverTable(live)
      body
    } finally {
      hb.interrupt()
      fs.delete(lease, false)
    }
  }

  private def emptyLinks: DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("tag_group", StringType),
        StructField("tag", StringType), StructField("entity_id", LongType))))
  }

  /** All (tag_group, tag, entity_id) links; empty frame only if never
    * written (a mid-swap crash leaves an aside that [[readTarget]]
    * resolves — recovered under the lease, or read as the pre-swap
    * snapshot while a live writer swaps — never an empty read). */
  def links: DataFrame = readTarget(linkPath) match {
    case Some(p) if fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        } =>
      spark.read.parquet(p.toString).select("tag_group", "tag", "entity_id")
    case _ => emptyLinks
  }

  /** Idempotently add links (reference `tag_attributes`: the INSERT's
    * anti-join on the existing link table — attribute/tag.py:21-28). Tag
    * and group names are lowercased on write, the reference's
    * `lower(tag.name)` match baked into storage. Returns the number of
    * links actually added, so a replay is provably a no-op. */
  def tagEntities(newLinks: DataFrame): Long = withTableLease(linkPath) {
    val normalized = newLinks.select(
        lower(col("tag_group")).as("tag_group"),
        lower(col("tag")).as("tag"),
        col("entity_id").cast("long").as("entity_id"))
      .distinct()
    val missing = normalized.join(
        links, Seq("tag_group", "tag", "entity_id"), "left_anti")
      .persist() // one anti-join serves both the count and the append
    val n = missing.count()
    if (n > 0)
      ParquetFiles.write(missing, linkPath.toString, SaveMode.Append)
    missing.unpersist()
    n
  }

  /** COMPLEMENTARY-group retag (reference `TagGroup.complementary`,
    * directory/taggroup.py:1-5: a group whose tags are mutually
    * exclusive — an entity holds at most one). Inserting a link REPLACES
    * the entity's existing tag in that group; other groups are untouched.
    * Returns the number of entities whose tag actually changed (a replay
    * of the same links is a no-op, like [[tagEntities]]). Same staged
    * whole-table swap as [[flushTag]] — link tables are directory-scale. */
  def retagComplementary(newLinks: DataFrame): Long = withTableLease(linkPath) {
    val normalized = newLinks.select(
        lower(col("tag_group")).as("tag_group"),
        lower(col("tag")).as("tag"),
        col("entity_id").cast("long").as("entity_id"))
      .distinct()
    // a batch assigning two tags to one entity within the group would
    // itself violate complementarity — refuse loudly (one directory-scale
    // aggregate, head(1) short-circuits)
    require(normalized.groupBy("tag_group", "entity_id")
        .agg(count(lit(1)).as("__c")).filter(col("__c") > 1).head(1).isEmpty,
      "retagComplementary: batch assigns multiple tags to one entity " +
        "within a complementary group")
    val existing = links
    val changed = normalized.join(
        existing, Seq("tag_group", "tag", "entity_id"), "left_anti")
      .persist() // one anti-join serves the count and the rewrite
    val n = changed.count()
    if (n > 0) {
      // displaced = the group's old links for the re-tagged entities
      val kept = existing.join(
        changed.select("tag_group", "entity_id").distinct(),
        Seq("tag_group", "entity_id"), "left_anti")
      ParquetFiles.write(kept.unionByName(changed),
        stagedPath(linkPath).toString, SaveMode.Overwrite)
      swapIn(linkPath)
    }
    changed.unpersist()
    n
  }

  /** Remove every link of one tag (reference `flush_tag_links`,
    * attribute/tag.py:63-77). Link tables are directory-scale, so the
    * staged rewrite-then-swap of the whole table is control-plane cost;
    * the aside-protocol swap keeps a crash at ANY point recoverable. */
  def flushTag(tag: String): Unit = withTableLease(linkPath) {
    ParquetFiles.write(links.filter(col("tag") =!= lower(lit(tag))),
      stagedPath(linkPath).toString, SaveMode.Overwrite)
    swapIn(linkPath)
  }

  // ---- metadata (attribute-definition) tags: the reference's
  // attribute_directory.attribute_tag_link keys on ATTRIBUTE ids
  // (storage/attribute/tag.py:11-36 — tagging column definitions, not
  // entities). graft attribute definitions are columns, so the NAME is
  // the key; same idempotent case-insensitive insert + per-tag flush
  // semantics, a parallel `_nametags` link table. ----

  private def namePath = new org.apache.hadoop.fs.Path(s"$basePath/_nametags")

  private def emptyNameLinks: DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("tag", StringType),
        StructField("name", StringType))))
  }

  /** All (tag, name) metadata links; empty frame only if never written
    * ([[readTarget]] resolves a mid-swap aside first, like [[links]]). */
  def nameLinks: DataFrame = readTarget(namePath) match {
    case Some(p) if fs.listStatus(p).exists { st =>
          val n = st.getPath.getName
          !n.startsWith("_") && !n.startsWith(".")
        } =>
      spark.read.parquet(p.toString).select("tag", "name")
    case _ => emptyNameLinks
  }

  /** Idempotently tag metadata names (attribute/trend definitions) —
    * `tag_attributes`' anti-join INSERT, attribute/tag.py:21-28. Tag is
    * lowercased (the reference's lower(tag.name) match); the NAME keeps
    * its case — it identifies a real column. */
  def tagNames(newLinks: DataFrame): Long = withTableLease(namePath) {
    val normalized = newLinks.select(
        lower(col("tag")).as("tag"), col("name").cast("string").as("name"))
      .distinct()
    val missing = normalized.join(nameLinks, Seq("tag", "name"), "left_anti")
      .persist()
    val n = missing.count()
    if (n > 0)
      ParquetFiles.write(missing, namePath.toString, SaveMode.Append)
    missing.unpersist()
    n
  }

  /** Remove one metadata tag's links (`flush_tag_links`,
    * attribute/tag.py:63-77) — aside-protocol swap like [[flushTag]]. */
  def flushNameTag(tag: String): Unit = withTableLease(namePath) {
    ParquetFiles.write(nameLinks.filter(col("tag") =!= lower(lit(tag))),
      stagedPath(namePath).toString, SaveMode.Overwrite)
    swapIn(namePath)
  }

  /** The metadata names carrying `tag` — a bounded control-plane read
    * (tag links are catalog-sized): callers project a frame to the
    * tagged attribute columns, the reference's tag-scoped attribute
    * selection. */
  def namesWithTag(tag: String): Seq[String] =
    nameLinks.filter(col("tag") === lower(lit(tag)))
      .select("name").collect().map(_.getString(0)).toSeq.sorted

  /** The distinct entity set carrying `tag` (case-insensitive, like every
    * reference tag lookup). */
  def entitiesWithTag(tag: String): DataFrame =
    links.filter(col("tag") === lower(lit(tag)))
      .select("entity_id").distinct()

  /** Scope a frame to entities carrying `tag`: broadcast left-semi join —
    * the tag set is directory-scale, so scoping adds no shuffle to the
    * consuming plan (a 100 TB scan keeps its partitioning). */
  def scope(df: DataFrame, tag: String, entityCol: String): DataFrame = {
    // alias the broadcast side: store-backed frames typically carry their
    // own entity_id column, and an unqualified reference would be
    // ambiguous (or bind to the wrong side)
    val tagged = entitiesWithTag(tag).withColumnRenamed("entity_id", "__tag_eid")
    df.join(broadcast(tagged), df(entityCol) === tagged("__tag_eid"), "left_semi")
  }
}
