package graft.storage

import graft.operators.Upsert
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Physical trend-part storage on parquet: the A5-A8 write path re-expressed
  * without a transactional table format.
  *
  * Files: zstd parquet, written only through [[ParquetFiles.write]].
  *
  * Layout: one directory per part, partitioned by `pindex`
  * (Granularity.timestampToIndex of the row timestamp — the reference's
  * range partitions, src/minerva/commands/partition.py:50-124). Time-range
  * predicates prune partitions at scan; retention expiry drops whole
  * partition directories (I7).
  *
  * Write protocol (the reference's COPY-then-upsert collapses into one
  * MERGE, trendstorepart.py:169-296):
  *   1. compute the batch's pindex set (driver-side, cheap distinct)
  *   2. read ONLY those partitions of the target, merge with Upsert.merge
  *      (batch wins per column, modified=greatest, created preserved)
  *   3. dynamic-partition-overwrite the affected partitions
  * Blast radius = partitions containing batch keys — at 100 TB an
  * incremental load touches a handful of partition directories, never the
  * table. On Delta/Iceberg the same logical plan becomes MERGE INTO with
  * optimistic concurrency; here writers to one part must serialize (the
  * reference splits batches per part already — B2 — so the natural unit of
  * parallelism is parts, not writers-per-part). The contract is ENFORCED:
  * store() and rewritePart() hold a per-part writer lease (create-exclusive
  * lock file, stale-TTL takeover) for the whole read-merge-swap and throw
  * [[graft.core.ConcurrentWriterException]] on contention past
  * writerLeaseWaitMs — racing writers queue or fail loudly, never lose
  * rows silently (the reference's test_store_concurrent.py:60-123
  * guarantee, by exclusion instead of ON CONFLICT).
  *
  * Schema evolution (trendstorepart.py:141-167,351-374): merge unions
  * columns (new trends appear with nulls in history) and the type-widening
  * reconciliation happens before merge via MinervaType.max on mismatched
  * column types.
  */
final case class PartStoreConfig(
    basePath: String,
    partitionSizeSeconds: Long,
    keyCols: Seq[String] = Seq("entity_id", "timestamp"),
    modifiedCol: String = "modified",
    createdCol: String = "created",
    /** Integral columns to keep `_zones.tsv` partition min/max for —
      * predicates on them prune partition DIRECTORIES at planning via
      * [[PartStore.readPartZonePruned]] (see [[ZoneSidecar]]). */
    zoneCols: Seq[String] = Seq.empty,
    /** How long a writer waits for a held writer lease before refusing
      * loudly with [[graft.core.ConcurrentWriterException]]. The default
      * tolerates brief back-to-back stores; a deployment that WANTS
      * serialized same-part loaders raises it to its batch cadence. */
    writerLeaseWaitMs: Long = 10000L,
    /** Age past which a lease counts as a crashed writer and is taken
      * over. Must exceed the longest store()/rewritePart() a writer runs
      * — a takeover mid-write reopens the lost-update window the lease
      * exists to close. */
    writerLeaseTtlMs: Long = 600000L
)

class PartStore(spark: SparkSession, cfg: PartStoreConfig) {
  import cfg._

  /** The store's configuration — exposed so operators with partitioning
    * preconditions (e.g. the by-bucket pruned ANN retrieval, which needs
    * pindex == bucket) can validate instead of silently mis-pruning. */
  def config: PartStoreConfig = cfg

  private def path(part: String) = s"$basePath/$part"

  private def withPindex(df: DataFrame): DataFrame =
    df.withColumn("pindex",
      (col("timestamp") - pmod(col("timestamp"), lit(partitionSizeSeconds)))
        .divide(partitionSizeSeconds).cast("long"))

  private def fs = graft.core.HadoopFs.forPath(spark, basePath)
  private def hp(s: String) = new org.apache.hadoop.fs.Path(s)

  // ---- writer lease: enforce the single-writer-per-part contract ----
  // The read-merge-overwrite protocol loses rows if two writers race one
  // part (both read the same base, last swap wins — the other batch's
  // rows silently vanish). The reference gets convergence for free from
  // PG ON CONFLICT (integration_tests/storage/trend/test_store_concurrent
  // .py:60-123); on parquet the equivalent guarantee is exclusion: a
  // lease FILE beside the part dir (not inside — rewritePart renames the
  // part dir wholesale), taken create-exclusive, held across the whole
  // read-merge-swap, and refused loudly on contention. A lease older
  // than writerLeaseTtlMs is a crashed writer and is taken over (the
  // crash itself is already recovered by recoverAsides); a LIVE holder
  // never ages past the TTL because withWriterLease heartbeats the
  // lease mtime every TTL/4 for as long as its body runs. create(p,
  // overwrite=false) is atomic on HDFS; on raw local / object stores it
  // is check-then-act — a razor-thin window next to the seconds-long
  // store it guards, and the loud-refusal contract holds for any
  // interleaving a scheduler actually produces.
  private def leasePath(part: String) = hp(s"$basePath/.${part}__lease")

  private def acquireLease(part: String): String = {
    val token = java.util.UUID.randomUUID().toString
    val p = leasePath(part)
    fs.mkdirs(hp(basePath))
    val deadline = System.currentTimeMillis() + writerLeaseWaitMs
    var backoff = 25L
    while (true) {
      // deadline must gate EVERY retry, including the lease-vanished branch
      // below — a tight create/delete interleave with other writers would
      // otherwise loop past writerLeaseWaitMs indefinitely
      if (System.currentTimeMillis() >= deadline)
        throw new graft.core.ConcurrentWriterException(
          s"writer lease for part '$part' is held by another writer " +
            s"(waited ${writerLeaseWaitMs} ms) — writers to one part " +
            "must serialize; raise writerLeaseWaitMs to queue behind " +
            "it, or split the batch per part upstream (B2)")
      try {
        val out = fs.create(p, false)
        // a failure between create and close must not orphan an empty lease
        // file until the TTL — delete what we just created and rethrow
        try { try out.write(token.getBytes("UTF-8")) finally out.close() }
        catch { case t: Throwable => fs.delete(p, false); throw t }
        return token
      } catch {
        case _: java.io.IOException => // FileAlreadyExistsException included
          val st =
            try Some(fs.getFileStatus(p))
            catch { case _: java.io.FileNotFoundException => None }
          st match {
            case Some(s) if System.currentTimeMillis() - s.getModificationTime >
                writerLeaseTtlMs =>
              // crashed writer: clear and re-race the create (two
              // takeover racers: one create wins, the other loops)
              fs.delete(p, false)
            case Some(_) if System.currentTimeMillis() >= deadline =>
              throw new graft.core.ConcurrentWriterException(
                s"writer lease for part '$part' is held by another writer " +
                  s"(waited ${writerLeaseWaitMs} ms) — writers to one part " +
                  "must serialize; raise writerLeaseWaitMs to queue behind " +
                  "it, or split the batch per part upstream (B2)")
            case _ =>
              Thread.sleep(backoff)
              backoff = math.min(backoff * 2, 500L)
          }
      }
    }
    token // unreachable
  }

  private def releaseLease(part: String, token: String): Unit = {
    val p = leasePath(part)
    try {
      val in = fs.open(p)
      val buf = new Array[Byte](64)
      val n = try in.read(buf) finally in.close()
      // only release a lease we still hold — after a (misconfigured-TTL)
      // takeover the file is the new writer's, not ours
      if (new String(buf, 0, math.max(n, 0), "UTF-8") == token)
        fs.delete(p, false)
    } catch { case _: java.io.FileNotFoundException => () }
  }

  private def withWriterLease[A](part: String)(body: => A): A = {
    val token = acquireLease(part)
    // Heartbeat fence: keep the lease mtime fresh while the body runs.
    // Without it, a store()/rewritePart slower than writerLeaseTtlMs —
    // entirely plausible for a 100 TB-scale merge — looks crashed, gets
    // taken over by a concurrent writer, and the lost-update window the
    // lease exists to close reopens with BOTH writers alive. Touching
    // only mtime leaves the token bytes intact, so releaseLease's
    // own-lease check is unaffected; takeover now hits dead holders only.
    val p = leasePath(part)
    val hb = new Thread(() => {
      try {
        while (!Thread.currentThread().isInterrupted) {
          Thread.sleep(math.max(writerLeaseTtlMs / 4, 50L))
          try fs.setTimes(p, System.currentTimeMillis(), -1L)
          catch { case _: java.io.IOException => () }
        }
      } catch { case _: InterruptedException => () }
    }, s"partstore-lease-hb-$part")
    hb.setDaemon(true)
    hb.start()
    try body
    finally {
      hb.interrupt()
      releaseLease(part, token)
    }
  }

  /** Crash recovery: a `.pindex_old_<i>` aside dir with NO live
    * `pindex=<i>` means a crash hit between the two swap renames — the
    * aside is the ONLY copy, restore it. An aside WITH a live dir means the
    * crash hit after the swap-in — the aside is stale, drop it. Runs before
    * every read and store so recovery happens before any merge base is
    * computed. */
  private def recoverAsides(part: String): Unit = {
    val dir = hp(path(part))
    // whole-part rewrite recovery (rewritePart's single-rename swap): a
    // live dir missing with a `.{part}_old` aside means a crash hit
    // between the two renames — the aside is the authoritative pre-rewrite
    // state, restore it (the interrupted rewrite is simply re-run). An
    // aside WITH a live dir means the crash hit after the swap-in but
    // before the aside delete — the aside is stale PRE-rewrite data; drop
    // it now, or a later removal of the live part (retention, manual
    // cleanup) would silently resurrect it. A leftover `__rewrite` staging
    // dir is stale either way.
    val oldAside = hp(s"$basePath/.${part}_old")
    if (fs.exists(oldAside)) {
      if (!fs.exists(dir)) fs.rename(oldAside, dir)
      else fs.delete(oldAside, true)
    }
    fs.delete(hp(path(part) + "__rewrite"), true)
    fs.delete(hp(path(part) + "__compact"), true)
    if (fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith(".pindex_old_")) {
          val dst = hp(s"${path(part)}/pindex=${name.stripPrefix(".pindex_old_")}")
          if (!fs.exists(dst)) fs.rename(st.getPath, dst)
          else fs.delete(st.getPath, true)
        }
      }
    }
  }

  // ---- schema sidecar: scan planning without footer reads ----
  // `mergeSchema=true` reads EVERY file footer at planning — O(files) driver
  // work that dominates planning at 100 TB. The store writes the merged
  // schema to `_schema.json` (underscore → invisible to partition
  // discovery) BEFORE swapping partitions, and reads declare it explicitly.
  // Crash-safety: the sidecar is always a SUPERSET of any file's schema
  // (column union + widened types), and Spark's parquet reader fills
  // missing columns with NULL and upcasts narrower files — so a sidecar
  // written for a store() that then crashed mid-swap still reads every
  // surviving file correctly. A missing/partial sidecar falls back to
  // mergeSchema.
  def readPart(part: String): Option[DataFrame] = {
    recoverAsides(part)
    if (!fs.exists(hp(path(part)))) None
    else SchemaSidecar.read(fs, path(part)) match {
      case Some(sc) => Some(spark.read.schema(sc).parquet(path(part)))
      case None =>
        Some(spark.read.option("mergeSchema", "true").parquet(path(part)))
    }
  }

  /** Read only the partitions overlapping [fromSec, toSec): the time range
    * becomes a `pindex` PartitionFilter, so Spark prunes partition
    * directories at scan — a one-day materialization over a 100 TB part
    * lists one directory instead of the table. (A bare `timestamp`
    * predicate cannot prune: Spark doesn't know pindex is derived from
    * it.) */
  def readPartRange(part: String, fromSec: Long, toSec: Long): Option[DataFrame] =
    readPart(part).map { df =>
      val lo = Math.floorDiv(fromSec, partitionSizeSeconds)
      val hi = Math.floorDiv(toSec - 1, partitionSizeSeconds)
      df.filter(col("pindex").between(lo, hi))
        .filter(col("timestamp") >= fromSec && col("timestamp") < toSec)
    }

  /** Load-time type widening (trendstorepart.py:351-374 "assure_data_types"
    * + SURVEY §7 hard part 5): when the batch carries a wider type for an
    * existing column, both sides are cast to the wider type before the
    * merge. Widening only — a narrower batch column is widened up to the
    * stored type, never the reverse. Order mirrors the Minerva lattice. */
  private val widenOrder: Seq[org.apache.spark.sql.types.DataType] = {
    import org.apache.spark.sql.types._
    Seq(ShortType, IntegerType, LongType, FloatType, DoubleType,
      DecimalType(38, 18), TimestampNTZType, TimestampType, StringType)
  }

  private def wider(a: org.apache.spark.sql.types.DataType,
                    b: org.apache.spark.sql.types.DataType): org.apache.spark.sql.types.DataType = {
    if (a == b) a
    else {
      def idx(d: org.apache.spark.sql.types.DataType): Int = d match {
        case _: org.apache.spark.sql.types.DecimalType => 5
        case other => widenOrder.indexOf(other)
      }
      val ia = idx(a)
      val ib = idx(b)
      if (ia < 0 || ib < 0) a // non-lattice types: keep target's
      else widenOrder(math.max(ia, ib))
    }
  }

  private def reconcileTypes(target: DataFrame, batch: DataFrame): (DataFrame, DataFrame) = {
    val common = target.columns.toSet intersect batch.columns.toSet
    common.foldLeft((target, batch)) { case ((t, b), c) =>
      val tt = t.schema(c).dataType
      val bt = b.schema(c).dataType
      if (tt == bt) (t, b)
      else {
        val w = wider(tt, bt)
        (if (tt == w) t else t.withColumn(c, col(c).cast(w)),
         if (bt == w) b else b.withColumn(c, col(c).cast(w)))
      }
    }
  }

  /** MERGE a batch (entity_id, timestamp, trends…, modified[, created]) into
    * the part; returns affected partition count.
    *
    * Writes go through a staging directory and per-partition renames —
    * Spark (correctly) refuses to overwrite a path that feeds the same
    * plan, and the rename makes each partition swap near-atomic.
    *
    * `zorderBy` (opt-in) names exactly two bounded non-negative integer
    * columns: rewritten partitions are range-partitioned and sorted on
    * their Morton key ([[graft.operators.Layout.zorderKey]]), so each
    * output file covers a bounded rectangle in (a, b) space and parquet
    * min/max stats skip files/row-groups on predicates over EITHER
    * column — Delta/Iceberg `OPTIMIZE ZORDER BY` without the table
    * format. The default path is unchanged. */
  def store(
      part: String, batch: DataFrame,
      zorderBy: Seq[String] = Seq.empty, zorderBits: Int = 10,
      batchIndicesHint: Option[Seq[Long]] = None): Int = {
    require(zorderBy.isEmpty || zorderBy.length == 2,
      s"zorderBy interleaves exactly two columns, got ${zorderBy.length}")
    // the lease covers the merge-base READ too — excluding only the swap
    // would still let two writers merge against the same base and lose
    // whichever lands first
    withWriterLease(part) {
    // NOTE: on a MERGE the batch plan executes twice here (the
    // pindex-distinct collect — needed as a LITERAL in-list so the merge
    // base read is a PartitionFilter — and the staged merge write). A
    // persist() across the two was measured SLOWER (r17): caching
    // materializes every wide column while the distinct is column-pruned
    // to pindex, and callers already checkpoint one step upstream — the
    // second execution pays one agg over checkpointed data, less than the
    // cache materialization costs. A FIRST append has no base to prune,
    // so it skips the collect entirely: the batch plan executes exactly
    // once (the staged write), and the swap indices come from listing the
    // staged directory — which holds exactly the batch's pindexes.
    //
    // `batchIndicesHint`: a caller that already KNOWS a superset of the
    // batch's pindexes (collected one step upstream, or derived from the
    // ids that built the batch) passes it here and the merge skips the
    // pindex-distinct collect — one driver action fewer per merge. A
    // SUPERSET is safe: extra partitions make the merge base read (and
    // rewrite) partitions the batch doesn't touch, landing byte-identical
    // contents back; an UNDER-approximation would lose base rows, so the
    // staged listing is asserted ⊆ the hint before any swap (a batch
    // partition outside the hint shows up staged and fails loudly).
    val b = withPindex(batch)
    var hintCheck: Option[Seq[Long]] = None
    var collectedCheck: Seq[Long] = Seq.empty
    val merged = readPart(part) match {
      case None => b
      case Some(existing0) =>
        val batchIndices: Seq[Long] = batchIndicesHint match {
          case Some(hint) => hint.distinct.sorted
          case None =>
            b.select("pindex").distinct().collect().map(_.getLong(0))
              .sorted.toIndexedSeq
        }
        val (existingRec, bRec) = reconcileTypes(existing0, b)
        val widened = existingRec.schema != existing0.schema
        // A widened column must apply to EVERY partition — mixed parquet
        // schemas across partition dirs don't merge (int vs long). Widening
        // is rare (the reference ALTERs the whole table too); normal loads
        // rewrite only the affected partitions.
        if (!widened) {
          if (batchIndicesHint.isDefined) hintCheck = Some(batchIndices)
          else collectedCheck = batchIndices
        }
        val base =
          if (widened) existingRec
          else existingRec.filter(col("pindex").isin(batchIndices.toIndexedSeq: _*))
        val m = Upsert.merge(
          base, bRec, keyCols, modifiedCol,
          if (batch.columns.contains(createdCol)) Some(createdCol) else None)
        withPindex(m.drop("pindex"))
    }
    val zorder =
      if (zorderBy.isEmpty) None
      else Some(graft.operators.Layout.zorderKey(
        col(zorderBy(0)), col(zorderBy(1)), zorderBits))
    // Swap indices ALWAYS come from the staged directory listing: a merge
    // writes exactly base(pruned to batch pindexes) ∪ batch = the batch's
    // pindexes (batch rows make every listed partition non-empty), a first
    // append writes exactly the batch's pindexes, and a widened merge
    // rewrites every partition — in each case the staged dirs ARE the swap
    // set, with no extra action to recount them. The two assert sets are
    // metadata-only guards: staged ⊇ the collected batch indices (the
    // old explicit-indices path made a violation loud — e.g. a future
    // merge semantics change leaving a live partition unswapped), and
    // staged ⊆ the caller hint (an under-approximated hint would
    // silently drop base rows — refuse before any swap).
    writeAndSwap(part, merged, zorder,
      mustContain = collectedCheck, mustBeWithin = hintCheck)
    }
  }

  /** Staged write + per-partition swap shared by `store` and
    * `rewritePart`: stage the frame partitioned by pindex, publish the
    * sidecar, then swap each partition directory in near-atomically.
    * The swap set comes from the staged directory listing (a metadata
    * read of dirs the write just materialized — never a recompute of
    * the merge plan); `mustContain`/`mustBeWithin` are metadata-only
    * sanity bounds on that listing, checked BEFORE any sidecar publish
    * or swap. Returns the swapped partition count. */
  private def writeAndSwap(
      part: String, merged: DataFrame,
      zorder: Option[org.apache.spark.sql.Column] = None,
      mustContain: Seq[Long] = Seq.empty,
      mustBeWithin: Option[Seq[Long]] = None): Int = {
    val staging = path(part) + "__staging"
    // One shuffle on pindex before the partitioned write: without it every
    // task writes a sliver into every touched partition dir (tasks ×
    // partitions small files — slow swap renames, slow reads); with it each
    // partition dir gets ~one well-sized file. At 100 TB swap this for
    // repartitionByRange(pindex, entity_id) to keep multiple files per
    // partition while preserving locality.
    val arranged = zorder match {
      case None => merged.repartition(col("pindex"))
      case Some(zk) =>
        // contiguous (pindex, zkey) range per task + in-task sort: every
        // file covers a bounded Morton rectangle, and row groups within a
        // file stay contiguous too. numPartitions is EXPLICIT — an
        // implicit repartitionByRange lets AQE coalesce small outputs
        // into one task, which collapses every rectangle into the full
        // plane and silently disables the skipping this layout buys.
        val n = merged.sparkSession.sessionState.conf.numShufflePartitions
        merged.withColumn("__zkey", zk)
          .repartitionByRange(n, col("pindex"), col("__zkey"))
          .sortWithinPartitions(col("pindex"), col("__zkey"))
          .drop("__zkey")
    }
    ParquetFiles.write(arranged, staging, SaveMode.Overwrite, Seq("pindex"))
    val indices = listStagedPindexes(staging)
    // metadata-only guards, BEFORE the sidecar publish and the swaps:
    // a merge's staged set must cover every collected batch pindex (a
    // violation means live partitions would silently stay stale), and a
    // hinted merge's staged set must stay inside the caller's claimed
    // superset (a violation means the hint under-approximated and the
    // pruned base read lost rows — abort before anything is published)
    locally {
      val staged = indices.toSet
      val missing = mustContain.filterNot(staged)
      if (missing.nonEmpty)
        throw new IllegalStateException(
          s"store($part): staged write is missing batch partition(s) " +
            s"${missing.mkString(", ")} — merge produced no rows for a " +
            "partition the batch touches; refusing to swap")
      mustBeWithin.foreach { hint =>
        val extra = indices.filterNot(hint.toSet)
        if (extra.nonEmpty)
          throw new IllegalStateException(
            s"store($part): batchIndicesHint under-approximates the " +
              s"batch's pindexes (staged ${extra.mkString(", ")} not in " +
              "hint) — the pruned merge base would lose rows; pass a " +
              "superset or drop the hint")
      }
    }
    // sidecar BEFORE the swaps: the union/widened schema is a superset of
    // every surviving file under any crash interleaving (see SchemaSidecar)
    SchemaSidecar.write(fs, path(part), merged.schema)
    // zone sidecar, same before-the-swaps / superset discipline: ranges
    // come from the STAGED parquet (a columnar scan of only the affected
    // partitions — never a recompute of the merge plan) and WIDEN any
    // existing entry, so every entry is ⊇ the live partition's range
    // whether the swap below lands or not
    updateZones(part, staging)
    swapStaged(part, staging, indices)
    indices.length
  }

  /** Pindex values physically present under a staged directory — one
    * metadata listing, shared by [[writeAndSwap]] and [[publishWhole]]. */
  private def listStagedPindexes(dir: String): Seq[Long] =
    fs.listStatus(hp(dir)).toSeq
      .map(_.getPath.getName)
      .filter(_.startsWith("pindex="))
      .map(_.stripPrefix("pindex=").toLong).sorted

  /** Crash-safe per-partition swap of staged `pindex=` dirs into the live
    * part (shared by [[writeAndSwap]] and [[compactPart]]): the live
    * partition is renamed ASIDE (not deleted) before the staged one moves
    * in, so at no point is the data present in zero places. A crash
    * leaves either the live dir, or the aside + staged dir — both
    * recoverable; aside leftovers are swept by recoverAsides. (`pindex=`
    * prefix means Spark's partition discovery ignores the aside dir even
    * if a sweep is missed.) */
  private def swapStaged(part: String, staging: String, indices: Seq[Long]): Unit = {
    indices.foreach { i =>
      val src = hp(s"$staging/pindex=$i")
      val dst = hp(s"${path(part)}/pindex=$i")
      val aside = hp(s"${path(part)}/.pindex_old_$i")
      // asides were restored/cleared by recoverAsides (via readPart) before
      // the merge base was read; any aside appearing here would be stale
      if (fs.exists(aside)) fs.delete(aside, true)
      val hadLive = fs.exists(dst)
      if (hadLive) {
        if (!fs.rename(dst, aside))
          throw new java.io.IOException(s"failed to move aside $dst")
      }
      fs.mkdirs(dst.getParent)
      if (!fs.exists(src)) {
        // Unreachable with current callers (every index in `indices` has
        // staged rows), but this is the crash-safety path: falling through
        // to the aside delete would silently lose the live partition.
        if (hadLive) fs.rename(aside, dst) // restore the live dir
        throw new java.io.IOException(s"staged partition missing: $src")
      }
      if (!fs.rename(src, dst)) {
        if (hadLive) fs.rename(aside, dst) // roll back
        throw new java.io.IOException(s"failed to swap in $src -> $dst")
      }
      if (hadLive) fs.delete(aside, true)
    }
    fs.delete(hp(staging), true)
  }

  // ---- zone maps (ZoneSidecar): plan-time partition-directory pruning
  // on correlated non-partition columns (ids, sequence numbers) ----

  /** Per-pindex [min, max] of the configured zone columns, computed from
    * a staged data directory (columnar scan of zone columns only — never
    * a recompute of the merge plan). Driver memory is O(partitions ·
    * zone columns). All-null columns in a partition get no entry (= that
    * partition is always read — conservative). */
  private def zonesOf(dataDir: String): Option[ZoneSidecar.Zones] = {
    if (zoneCols.isEmpty) return None
    val df = spark.read.parquet(dataDir)
    val present = zoneCols.filter(df.columns.contains)
    if (present.isEmpty) return None
    val aggs = present.flatMap(c => Seq(
      min(col(c).cast("long")).as(s"__lo_$c"),
      max(col(c).cast("long")).as(s"__hi_$c")))
    val rows = df.groupBy(col("pindex").cast("long").as("__pi"))
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    Some(rows.map { r =>
      val pi = r.getAs[Long]("__pi")
      pi -> present.flatMap { c =>
        val lo = r.getAs[java.lang.Long](s"__lo_$c")
        val hi = r.getAs[java.lang.Long](s"__hi_$c")
        if (lo == null || hi == null) None
        else Some(c -> (lo.longValue, hi.longValue))
      }.toMap
    }.toMap)
  }

  /** Fold a staged write's zones into the part's sidecar, widen-only. */
  private def updateZones(part: String, stagingDir: String): Unit =
    zonesOf(stagingDir).foreach { fresh =>
      val base = ZoneSidecar.read(fs, path(part)).getOrElse(Map.empty: ZoneSidecar.Zones)
      ZoneSidecar.write(fs, path(part), ZoneSidecar.widen(base, fresh))
    }

  private def livePindexes(part: String): Seq[Long] = {
    val dir = hp(path(part))
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("pindex="))
      .flatMap(n => scala.util.Try(n.stripPrefix("pindex=").toLong).toOption)
  }

  /** The pindexes a predicate `colName BETWEEN lo AND hi` must read,
    * per the zone sidecar: entries that intersect the range, PLUS any
    * live partition with no entry for the column (conservative — a
    * missing entry never causes a skip). None = no sidecar at all, the
    * caller reads everything. Exposed (not just used by
    * readPartZonePruned) so callers and specs can audit what pruning
    * actually did. */
  def zonePindexes(part: String, colName: String, lo: Long, hi: Long): Option[Seq[Long]] = {
    recoverAsides(part)
    ZoneSidecar.read(fs, path(part)).map { zones =>
      livePindexes(part).filter { pi =>
        zones.get(pi).flatMap(_.get(colName)) match {
          case Some((zlo, zhi)) => zhi >= lo && zlo <= hi
          case None => true
        }
      }.sorted
    }
  }

  /** Read with a zone-pruned range predicate on `colName`: the value
    * range becomes a `pindex` IN-list (a PartitionFilter — skipped
    * directories are never listed or planned) plus the residual value
    * filter. Degrades to a plain filtered read when no sidecar exists.
    * The time analogue is [[readPartRange]]; this one prunes on columns
    * that CORRELATE with time without being derivable from it. */
  def readPartZonePruned(part: String, colName: String, lo: Long, hi: Long): Option[DataFrame] =
    readPart(part).map { df =>
      val filtered = df.filter(col(colName) >= lo && col(colName) <= hi)
      zonePindexes(part, colName, lo, hi) match {
        case Some(keep) => filtered.filter(col("pindex").isin(keep: _*))
        case None => filtered
      }
    }

  // ---- schema migration hooks (trend-store add/remove/alter-trends) ----

  /** Whether the part has any stored state (data or sidecar). */
  def exists(part: String): Boolean = fs.exists(hp(path(part)))

  /** The part's declared schema without touching data: what a migration
    * diffs against (reference: the live table's column list,
    * trendstorepart.py:141-167). */
  def sidecarSchema(part: String): Option[org.apache.spark.sql.types.StructType] = {
    recoverAsides(part)
    SchemaSidecar.read(fs, path(part))
  }

  /** Metadata-only schema change: replace the sidecar. Callers must keep
    * the sidecar ⊇-or-disjoint contract — every column it declares that
    * files carry must be type-equal or parquet-upcast-wider, so existing
    * footers still read (missing columns surface as typed NULLs, dropped
    * columns are simply not scanned). Used for add-trends (typed NULL
    * backfill), remove-trends, and in-ladder widening — the O(1) analogue
    * of the reference's ALTER TABLE ADD/DROP COLUMN. */
  def setSidecar(part: String, schema: org.apache.spark.sql.types.StructType): Unit =
    SchemaSidecar.write(fs, path(part), schema)

  /** Full-part rewrite: the analogue of a PostgreSQL ALTER TABLE ... TYPE
    * table rewrite — O(part size), used only for type changes the parquet
    * reader cannot express as a read-time upcast (cross-ladder widening,
    * forced narrowing).
    *
    * Unlike `store`'s per-partition swap, the rewrite swaps the WHOLE part
    * directory in one rename: mixed old/new-typed footers under either
    * sidecar are unreadable, so partial swaps must be impossible. The new
    * tree (data + its own sidecar) is fully staged first; the visible path
    * changes in a single rename; a crash between the two renames leaves the
    * complete pre-rewrite tree in `.{part}_old`, restored by
    * `recoverAsides` before any later read — the interrupted migration is
    * simply re-run. */
  def rewritePart(part: String, transform: DataFrame => DataFrame): Int =
    withWriterLease(part) { readPart(part) match {
      case None => 0
      case Some(df0) => publishWhole(part, transform(df0))
    } }

  /** Publish `df` as a part's COMPLETE new contents: staged write of the
    * whole directory, exact zone recompute, near-atomic whole-dir swap
    * with rollback. Callers hold the writer lease. */
  private def publishWhole(part: String, df0: DataFrame): Int = {
    val df = if (df0.columns.contains("pindex")) df0 else withPindex(df0)
    val rewriteDir = path(part) + "__rewrite"
    fs.delete(hp(rewriteDir), true)
    ParquetFiles.write(df.repartition(col("pindex")), rewriteDir,
      SaveMode.Overwrite, Seq("pindex"))
    // indices from the STAGED dir listing, not a distinct().collect() on
    // the plan — that would EXECUTE the full merge plan a second time
    // just to count partitions the write already materialized
    val indices = listStagedPindexes(rewriteDir)
    SchemaSidecar.write(fs, rewriteDir, df.schema)
    // a rewrite knows the FULL new contents, so zones recompute
    // exactly (not widen) and ride the same whole-dir swap
    zonesOf(rewriteDir).foreach(z => ZoneSidecar.write(fs, rewriteDir, z))
    val aside = hp(s"$basePath/.${part}_old")
    if (fs.exists(aside)) fs.delete(aside, true)
    val existed = fs.exists(hp(path(part)))
    if (existed && !fs.rename(hp(path(part)), aside))
      throw new java.io.IOException(s"failed to move aside ${path(part)}")
    if (!fs.rename(hp(rewriteDir), hp(path(part)))) {
      if (existed) fs.rename(aside, hp(path(part))) // roll back
      throw new java.io.IOException(s"failed to swap in $rewriteDir")
    }
    if (existed) fs.delete(aside, true)
    indices.length
  }

  /** Full-content REPLACE: publish `df` as the part's complete new
    * contents through the same staged-write + whole-dir swap as
    * [[rewritePart]], creating the part if absent — WITHOUT reading or
    * merging the existing contents. For model-sized parts (bounded
    * count/sketch stores — char-LM trigrams, codebooks) whose maintainers
    * already computed the full merged state: `store()` would re-read the
    * part and run the upsert merge a second time against contents the
    * caller just folded in, paying an extra read + shuffle per batch for
    * a provable no-op. Same single-writer lease as every other write. */
  def replacePart(part: String, df: DataFrame): Int =
    withWriterLease(part) { publishWhole(part, df) }

  /** Parts physically present under the store base — any non-hidden
    * directory except internal logs (`_modified_log` etc.). One driver-side
    * directory listing: O(parts), never touches data
    * (`trend-store list`, reference commands/trend_store/list.py). */
  def listParts(): Seq[String] = {
    val base = hp(basePath)
    if (!fs.exists(base)) Seq.empty
    else fs.listStatus(base).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filterNot(n => n.startsWith(".") || n.startsWith("_"))
      .sorted
  }

  /** Drop a part wholesale: sidecar, every pindex partition dir, and any
    * crash aside — the analogue of trend_directory.delete_trend_store's
    * per-part DROP TABLE (`trend-store delete`,
    * reference commands/trend_store/delete.py). Metadata-only directory
    * deletes; returns whether anything existed. */
  def deletePart(part: String): Boolean = {
    val aside = fs.delete(hp(s"$basePath/.${part}_old"), true)
    val staging = fs.delete(hp(path(part) + "__rewrite"), true)
    fs.delete(leasePath(part), false) // a crashed writer's leftover lease
    fs.delete(hp(path(part)), true) || aside || staging
  }

  /** Modified-log append (I1): one row per (part, timestamp) in the batch —
    * the writer-maintained analogue of trend_directory.mark_modified. */
  def markModified(part: String, batch: DataFrame, nowSec: Long): Unit =
    ParquetFiles.write(
      batch.select(col("timestamp").cast("long").as("timestamp")).distinct()
        .withColumn("part", lit(part))
        .withColumn("modified", lit(nowSec)),
      s"$basePath/$ModifiedLog", SaveMode.Append)

  private val ModifiedLog = "_modified_log"

  /** The log's declared read schema: [[markModified]] writes exactly these
    * types, so a read needs no footer-inference job. */
  private val ModifiedLogSchema = org.apache.spark.sql.types.StructType.fromDDL(
    "timestamp BIGINT, part STRING, modified BIGINT")

  /** Test seam: runs between the compaction's staged fold and the
    * live→aside swap — the window where a concurrent markModified lands. */
  private[storage] var compactInterleaveHook: () => Unit = () => ()

  /** The modified log, crash-recovered first (a compaction interrupted
    * between its two swap renames leaves the pre-compaction log in the
    * `.{name}_old` aside — same discipline as part rewrites). */
  def readModifiedLog(): Option[DataFrame] = {
    val dir = hp(s"$basePath/$ModifiedLog")
    val aside = hp(s"$basePath/.${ModifiedLog}_old")
    if (fs.exists(aside)) {
      if (!fs.exists(dir)) fs.rename(aside, dir)
      else fs.delete(aside, true) // post-swap crash: aside is stale
    }
    fs.delete(hp(s"$basePath/${ModifiedLog}__compact"), true)
    if (fs.exists(dir)) Some(spark.read.schema(ModifiedLogSchema).parquet(dir.toString))
    else None
  }

  /** `trend-store process-modified-log` (reference trend_store.py:908-966
    * folds trend_directory.modified_log into the modified STATE table so
    * staleness queries stop re-scanning the log): replace the append-only
    * log with its fold — max(modified) per (part, timestamp). The log
    * stays bounded by |distinct (part, timestamp)| instead of growing
    * with every batch; folding an already-folded log is a no-op, so the
    * reference's processing position (its `--reset`) has no analogue.
    * Crash-safe via the same stage → aside → swap-in discipline as
    * [[rewritePart]]. Returns the folded row count. */
  def compactModifiedLog(): Long = readModifiedLog() match {
    case None => 0L
    case Some(log) =>
      val live = hp(s"$basePath/$ModifiedLog")
      // Snapshot the live dir's file names BEFORE the fold reads it: a
      // concurrent markModified can append between the fold and the
      // live→aside rename, and those appends would otherwise ride into
      // the aside and be deleted with it (lost staleness state). Any
      // aside file not in this snapshot is folded back into the swapped-in
      // log below; the fold is max-per-key, so preserving a file the fold
      // may have partially seen only re-introduces rows a later compaction
      // dedups — never loses one.
      val preFold = fs.listStatus(live).map(_.getPath.getName).toSet
      val staged = s"$basePath/${ModifiedLog}__compact"
      ParquetFiles.write(
        log.groupBy(col("part"), col("timestamp"))
          .agg(max(col("modified")).as("modified")),
        staged, SaveMode.Overwrite)
      val n = spark.read.schema(ModifiedLogSchema).parquet(staged).count()
      compactInterleaveHook()
      val aside = hp(s"$basePath/.${ModifiedLog}_old")
      if (fs.exists(aside)) fs.delete(aside, true)
      if (!fs.rename(live, aside))
        throw new java.io.IOException(s"failed to move aside $live")
      if (!fs.rename(hp(staged), live)) {
        fs.rename(aside, live) // roll back
        throw new java.io.IOException(s"failed to swap in $staged")
      }
      fs.listStatus(aside).foreach { st =>
        val name = st.getPath.getName
        val isData = !name.startsWith("_") && !name.startsWith(".")
        if (isData && !preFold.contains(name))
          fs.rename(st.getPath, new org.apache.hadoop.fs.Path(live, name))
      }
      fs.delete(aside, true)
      n
  }

  /** Retention expiry (I7): drop partition DIRECTORIES wholly before the
    * cutoff (trend_directory's per-partition DROP,
    * src/minerva/commands/partition.py:50-124). A partition is either
    * entirely expired or entirely retained, so expiry is a metadata-only
    * directory delete: O(expired partitions), never a table rewrite, and
    * trivially crash-safe — a crash mid-loop leaves some expired dirs
    * deleted and the rest intact, retained data is never touched. */
  def expire(part: String, cutoffSec: Long): Unit = {
    val cutoffIndex = Math.floorDiv(cutoffSec, partitionSizeSeconds)
    recoverAsides(part)
    val dir = hp(path(part))
    if (fs.exists(dir)) {
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (name.startsWith("pindex=")) {
          scala.util.Try(name.stripPrefix("pindex=").toLong).toOption
            .filter(_ < cutoffIndex)
            .foreach(_ => fs.delete(st.getPath, true))
        }
      }
      // drop zone entries for the expired partitions (leaving them would
      // be harmless — pruning only ever skips — but stale entries make
      // the sidecar grow with retention churn)
      ZoneSidecar.read(fs, path(part)).foreach { z =>
        val kept = z.filter(_._1 >= cutoffIndex)
        if (kept.size != z.size) ZoneSidecar.write(fs, path(part), kept)
      }
    }
  }

  /** Bin-pack the data files inside each `pindex=` partition directory of
    * `part` into ~`targetBytes` files — the maintenance verb for stores
    * whose partitions accrue many small files: z-ordered range writes
    * land several range-tasks per partition, the 100 TB layout
    * (repartitionByRange(pindex, entity_id), see [[writeAndSwap]]) keeps
    * multiple files per partition BY DESIGN, and a day of 2 s micro-batch
    * sink merges re-staged through that layout multiplies them. Postgres
    * heaps never fragment this way; on parquet this is the sibling
    * maintenance verb to retention ([[expire]] — trend_store.py:793-845).
    *
    * Pure PHYSICAL rewrite: row contents, schema sidecar and zone sidecar
    * are untouched, so every read answers identically before and after
    * (the q295 gate proves storage is answer-invisible through the
    * oracle). Runs under the writer lease through the same staged write +
    * crash-safe per-partition swap as store(); only partitions holding
    * MORE files than their byte-optimal count (ceil(bytes/targetBytes))
    * are rewritten — an already-compact store is a directory listing, no
    * job. Returns the number of partitions compacted. */
  def compactPart(part: String, targetBytes: Long = 128L << 20): Int =
    withWriterLease(part) {
      recoverAsides(part)
      val dir = hp(path(part))
      if (!fs.exists(dir)) 0
      else {
        // driver work is O(partitions) directory stats — the same order
        // as the swap loop every store() already runs
        val cands: Seq[(Long, Int)] = fs.listStatus(dir).toSeq
          .filter(st => st.isDirectory && st.getPath.getName.startsWith("pindex="))
          .flatMap { st =>
            scala.util.Try(st.getPath.getName.stripPrefix("pindex=").toLong)
              .toOption.flatMap { pi =>
                val files = fs.listStatus(st.getPath).toSeq.filter { f =>
                  f.isFile && !f.getPath.getName.startsWith("_") &&
                    !f.getPath.getName.startsWith(".")
                }
                val bytes = files.map(_.getLen).sum
                val want = math.max(1L,
                  (bytes + targetBytes - 1) / targetBytes).toInt
                if (files.length > want) Some(pi -> want) else None
              }
          }
        if (cands.isEmpty) 0
        else {
          val staging = path(part) + "__compact"
          fs.delete(hp(staging), true)
          // read ONLY the candidate partition dirs (basePath keeps the
          // pindex partition column); the sidecar schema is a superset of
          // every file's, exactly as readPart declares it
          val reader = SchemaSidecar.read(fs, path(part)) match {
            case Some(sc) => spark.read.schema(sc)
            case None => spark.read.option("mergeSchema", "true")
          }
          val df = reader.option("basePath", path(part))
            .parquet(cands.map { case (pi, _) => s"${path(part)}/pindex=$pi" }: _*)
          // per-partition file budget as a tiny literal map (O(touched
          // partitions) plan metadata, same order as `cands` itself); the
          // salt splits a partition's rows across exactly `want` tasks so
          // each compacted dir gets at most `want` files
          val wantMap = map(cands.flatMap { case (pi, w) =>
            Seq(lit(pi), lit(w)) }: _*)
          val salt = pmod(xxhash64(keyCols.map(col): _*),
            element_at(wantMap, col("pindex")))
          val n = spark.sessionState.conf.numShufflePartitions
          ParquetFiles.write(
            df.withColumn("__salt", salt)
              .repartition(n, col("pindex"), col("__salt"))
              .sortWithinPartitions(keyCols.map(col): _*)
              .drop("__salt"),
            staging, SaveMode.Overwrite, Seq("pindex"))
          // no sidecar updates: contents, schema and zone ranges are
          // byte-for-byte the same rows — only the file layout changed
          swapStaged(part, staging, cands.map(_._1))
          cands.length
        }
      }
    }
}
