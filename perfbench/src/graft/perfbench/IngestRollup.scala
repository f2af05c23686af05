package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import graft.core.MinervaType
import graft.model.InstanceModel
import graft.operators._
import graft.sources.{CsvSourceConfig, CsvTrendSource}
import graft.storage.{NotificationStore, PartStore, PartStoreConfig}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The minerva write path, batch by batch: the chain `cli.Main` runs for
  * `load-data` → `live-monitor` → `trigger`.
  *
  * The data follows the repo's minerva bundle (`src/test/resources/
  * graft_bundle`): routers named `<region>-r<n>` with the 15m double
  * counters `rx_mb` and `tx_mb` in 1-day partitions, a router → region
  * relation taken from the name prefix, and the `router/15m/rxhigh`
  * trigger. Each batch is one seeded counter CSV package: two new intervals
  * for every router plus revisions of intervals that earlier batches
  * already stored and rolled up (a fixed share of the batch's rows), so
  * `store()` merges into existing partitions and re-opens stale chunks.
  * Per batch: deduce + read, resolve, store into the 15m part + mark
  * modified, materialize the 1h and then the 1d target, aggregate the
  * touched timestamps to regions + store, evaluate the trigger and append
  * its notifications. */
final class IngestRollup(spark: SparkSession, tr: Tracer, seed: Long, tiny: Boolean)
    extends Workload {
  import IngestRollup._

  val itemLabel = "rows"

  // sizes the bundle does not fix (README, "Input shape")
  private val routers = if (tiny) 120 else 2000
  private val regions = routers / 20
  private val prebuildIntervals = 4
  private val newIntervalsPerBatch = 2
  private val revisionShare = 0.2
  private val lookback = 8
  private val poolBatches = if (tiny) 6 else 24
  private val cfg = CsvSourceConfig("router", Some("timestamp"))
  private val emptyDim = Workload.emptyDimension(spark)
  private val rule = InstanceInit.triggerRule(InstanceModel.parseTrigger(TriggerYaml))

  private var dir = ""
  private var ps: PartStore = _
  private var runner: MaterializationRunner = _
  private var notes: NotificationStore = _
  private var relation: DataFrame = _
  private var nextVersion = 0
  private val csvBytes = mutable.Map.empty[Int, Long]
  private val rowCount = mutable.Map.empty[Int, Long]
  private val touchedTs = mutable.Map.empty[Int, Seq[Long]]
  private var poolFingerprint = ""
  private var poolRows = 0L

  private def csvPath(v: Int) = f"$dir/in/batch-$v%05d.csv"
  private def regionName(p: Int) = s"region${('a' + p / 26).toChar}${('a' + p % 26).toChar}"
  private def routerName(e: Int) =
    s"${regionName(Math.floorMod(Workload.rng(seed, 7, e).nextInt(), regions))}-r$e"
  private def intervalTs(i: Int) = T0 + i.toLong * 900

  /** Rows of package `v`: (router, interval, rx_mb, tx_mb). Package 0 is
    * the prebuilt history; package v ≥ 1 adds intervals and revises
    * earlier ones. Values lie on a 0.5 grid, as the bundle's sample rows
    * do, so every sum of them is exact in any order. */
  private def rows(v: Int): Seq[(Int, Int, Array[Double])] = {
    val r = Workload.rng(seed, 1, v)
    def values() = Array(r.nextInt(60) * 0.5, r.nextInt(20) * 0.5)
    if (v == 0)
      for (i <- 0 until prebuildIntervals; e <- 0 until routers) yield (e, i, values())
    else {
      val first = prebuildIntervals + (v - 1) * newIntervalsPerBatch
      val fresh = for (i <- first until first + newIntervalsPerBatch; e <- 0 until routers)
        yield (e, i, values())
      val nRev = math.round(fresh.length * revisionShare / (1 - revisionShare)).toInt
      val lo = math.max(0, first - lookback)
      val picked = mutable.LinkedHashSet.empty[(Int, Int)]
      while (picked.size < nRev) picked += ((r.nextInt(routers), lo + r.nextInt(first - lo)))
      fresh ++ picked.toSeq.map { case (e, i) => (e, i, values()) }
    }
  }

  private def csv(rs: Seq[(Int, Int, Array[Double])]): Array[Byte] = {
    val sb = new StringBuilder("router,timestamp,rx_mb,tx_mb\n")
    rs.foreach { case (e, i, c) =>
      sb.append(routerName(e)).append(',')
        .append(java.time.Instant.ofEpochSecond(intervalTs(i))).append(',')
        .append(c.mkString(",")).append('\n')
    }
    sb.toString.getBytes(UTF_8)
  }

  def setup(d: String): Unit = {
    dir = d
    Files.createDirectories(Paths.get(s"$dir/in"))
    val digests = (0 to poolBatches).map { v =>
      val rs = rows(v)
      val bytes = csv(rs)
      Files.write(Paths.get(csvPath(v)), bytes)
      csvBytes(v) = bytes.length
      rowCount(v) = rs.length
      touchedTs(v) = rs.map(r => intervalTs(r._2)).distinct.sorted
      bytes
    }
    poolFingerprint = Workload.sha(digests.iterator)
    poolRows = rowCount.values.sum
    ps = new PartStore(spark, PartStoreConfig(s"$dir/store/trend", 86400))
    runner = new MaterializationRunner(spark, ps, s"$dir/store/trend/_state")
    notes = new NotificationStore(spark, s"$dir/store/notification")
    relation = buildRelation()
    nextVersion = 0
  }

  /** The prebuilt history (package 0), loaded through the chain every
    * timed batch runs. */
  def warmUp(): Unit = {
    runBatch(0)
    nextVersion = 1
  }

  /** router → region edges, by the bundle's relation query: the region
    * is the router name's `([a-z]+)-.*` prefix. */
  private def buildRelation(): DataFrame = {
    import spark.implicits._
    val names = (0 until routers).map(routerName).toDF("child")
      .withColumn("parent", regexp_extract(col("child"), "([a-z]+)-.*", 1))
    val child = EntityResolution.resolveHash(names.select(col("child").as("name")), emptyDim, "router")
    val parent = EntityResolution.resolveHash(names.select(col("parent").as("name")), emptyDim, "v-region")
    val rel = names.join(child, names("child") === child("name"))
      .select(col("id").as("source_id"), col("parent"))
      .join(parent, col("parent") === parent("name"))
      .select(col("source_id"), col("id").as("target_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    rel.toDF("source_id", "target_id")
  }

  private def trendAggs: Seq[org.apache.spark.sql.Column] =
    TimeAggregation.samples +: Counters.map(c => sum(col(c)).as(c))

  /** Source fingerprints per `gran` chunk, from the 15m part's modified log. */
  private def fingerprints(gran: Long): DataFrame = {
    val log = tr.span("storage.read_modified_log")(ps.readModifiedLog().get)
      .filter(col("part") === Part15m)
      .withColumn("chunk", col("timestamp") - pmod(col("timestamp"), lit(gran)))
    Materialization.fingerprint(
      Materialization.modifiedState(log, Seq("chunk", "timestamp"), "modified"),
      "chunk", "timestamp", "last_modified")
  }

  private def materialize(target: String, gran: Long, now: Long): Unit = {
    val spec = MaterializationSpec(target,
      chunk => TimeAggregation.rollup(ps.readPartRange(Part15m, chunk, chunk + gran).get,
        "entity_id", "timestamp", gran, trendAggs)
        .withColumn("modified", lit(now)),
      stabilityDelaySec = 0, retentionSec = Long.MaxValue / 4)
    val fp = fingerprints(gran)
    val done = tr.span("operators.materialize") {
      val d = runner.run(spec, fp, nowSec = now)
      tr.count("operators.chunks_materialized", d.size)
      d
    }
    require(done.size < 50, s"$target: ${done.size} stale chunks hit the pass limit")
  }

  private def runBatch(v: Int): Long = {
    val path = csvPath(v)
    val now = Clock0 + v
    tr.count("sources.csv_bytes", csvBytes(v).toDouble)
    // the types the bundle's parser_config declares override the deduced ones
    val schema = tr.span("sources.deduce")(CsvTrendSource.deduceSchemaDistributed(spark, path, cfg))
      .map { case (c, t) => c -> Declared.getOrElse(c, t) }
    val pkg = tr.span("sources.read")(CsvTrendSource.read(spark, path, cfg, schema))
      .withColumn("entity", col("entity").cast("string"))
    val resolved = tr.span("operators.resolve")(
      EntityResolution.resolveHash(pkg.select(col("entity").as("name")), emptyDim, "router"))
    val batch = pkg.join(resolved, pkg("entity") === resolved("name"))
      .drop("entity", "name")
      .withColumnRenamed("id", "entity_id")
      .withColumn("modified", lit(now))
    tr.span("storage.store") {
      tr.count("storage.partitions_touched", ps.store(Part15m, batch))
      tr.count("storage.store_calls", 1)
    }
    tr.span("storage.mark_modified")(ps.markModified(Part15m, batch, now))
    materialize(Part1h, 3600, now)
    materialize(Part1d, 86400, now)

    val touched = touchedTs(v)
    val window = tr.span("storage.read_plan")(
      ps.readPartRange(Part15m, touched.head, touched.last + 1).get)
    val parentRows = tr.span("operators.entity_rollup")(EntityAggregation.aggregate(
      window.filter(col("timestamp").isin(touched: _*)), relation,
      "entity_id", "timestamp", trendAggs))
    tr.span("storage.store") {
      tr.count("storage.partitions_touched",
        ps.store(PartParent, parentRows.withColumn("modified", lit(now))))
      tr.count("storage.store_calls", 1)
    }
    val fired = tr.span("operators.trigger")(TriggerOps.createNotifications(batch, rule))
    tr.span("storage.notify_store")(notes.store(fired, now))
    rowCount(v)
  }

  def next(): Option[Seq[Op]] =
    if (nextVersion > poolBatches) None
    else {
      val v = nextVersion
      nextVersion += 1
      Some(Seq(Op("op.batch", primary = true, () => runBatch(v))))
    }

  def inputSummary: String =
    s"routers=$routers regions=$regions packages=${poolBatches + 1} rows=$poolRows " +
      s"csv_bytes=${csvBytes.values.sum} revision_share=$revisionShare"
  def fingerprint: String = poolFingerprint

  def storeDir: String = s"$dir/store"
  def inputBytes: Long = (0 until nextVersion).map(csvBytes).sum
  /** Every output is checked exactly, and a mismatch fails the run: there
    * is no approximate answer to grade. */
  def answerQuality: Double = 1.0

  override def layerExtras: Map[String, Double] =
    Map("operators.notifications" -> notes.read().get.count().toDouble / nextVersion)

  /** Expected outputs by one plain-Spark pass over every package loaded so
    * far: last write wins per (entity, timestamp), then the rollups. */
  def checks(): Seq[Check] = {
    val loaded = (0 until nextVersion).map(csvPath)
    val raw = spark.read.option("header", "true")
      .schema("router STRING, timestamp STRING, rx_mb DOUBLE, tx_mb DOUBLE")
      .csv(loaded: _*)
      .select(
        // the identity convention EntityResolution.resolveHash documents
        abs(xxhash64(lit("router"), col("router"))).as("entity_id"),
        col("timestamp").cast("timestamp").cast("long").as("timestamp"),
        regexp_extract(col("_metadata.file_path"), "batch-(\\d+)\\.csv", 1).cast("int").as("v"),
        col("rx_mb"), col("tx_mb"))
    val last = raw.groupBy("entity_id", "timestamp")
      .agg(max_by(struct(Counters.map(col): _*), col("v")).as("c"))
      .select((Seq(col("entity_id"), col("timestamp")) ++ Counters.map(c => col(s"c.$c"))): _*)
      .cache()
    def rolled(df: DataFrame, gran: Long) =
      df.groupBy(col("entity_id"),
          (col("timestamp") - pmod(col("timestamp"), lit(gran)) + gran).as("timestamp"))
        .agg(count(lit(1)).as("samples"), Counters.map(c => sum(col(c)).as(c)): _*)
    def stored(part: String, withSamples: Boolean) = {
      val keys = Seq("entity_id", "timestamp") ++ (if (withSamples) Seq("samples") else Nil)
      ps.readPart(part).get.select(keys.map(c => col(c).cast("long").as(c)) ++
        Counters.map(c => col(c).cast("double").as(c)): _*)
    }
    val parent = last.join(relation, col("entity_id") === col("source_id"))
      .groupBy(col("target_id").as("entity_id"), col("timestamp"))
      .agg(count(lit(1)).as("samples"), Counters.map(c => sum(col(c)).as(c)): _*)
    // router/15m/rxhigh written out by hand: fire above 10 MB, weight 900
    // above 20 MB else 100; the last firing version of a row wins
    val fired = raw.filter(col("rx_mb") > 10)
      .groupBy("entity_id", "timestamp")
      .agg(max_by(when(col("rx_mb") > 20, 900L).otherwise(100L), col("v")).as("weight"))
      .select(col("entity_id"), col("timestamp"), lit("router/15m/rxhigh").as("rule"), col("weight"))
    val storedNotes = notes.read().get
      .select(col("entity_id"), col("timestamp"), col("rule"), col("weight").cast("long"))
    val out = Seq(
      Workload.check("ingest.15m", Workload.digest(last), Workload.digest(stored(Part15m, false))),
      Workload.check("ingest.1h", Workload.digest(rolled(last, 3600)), Workload.digest(stored(Part1h, true))),
      Workload.check("ingest.1d", Workload.digest(rolled(last, 86400)), Workload.digest(stored(Part1d, true))),
      Workload.check("ingest.parent", Workload.digest(parent), Workload.digest(stored(PartParent, true))),
      Workload.check("ingest.notifications", Workload.digest(fired), Workload.digest(storedNotes)))
    last.unpersist()
    out
  }
}

object IngestRollup {
  val T0 = 1767225600L // 2026-01-01T00:00:00Z
  val Clock0 = 2000000000L // logical load clock: package v loads at Clock0 + v
  val Counters = Seq("rx_mb", "tx_mb")
  val Declared = Map[String, MinervaType]("timestamp" -> MinervaType.MTimestamp,
    "rx_mb" -> MinervaType.MDouble, "tx_mb" -> MinervaType.MDouble)
  val Part15m = "net_router_main_15m"
  val Part1h = "net_router_main_1h"
  val Part1d = "net_router_main_1d"
  val PartParent = "net_v_region_main_15m"
  /** The bundle's `trigger/router-15m-rxhigh.yaml`. */
  val TriggerYaml: String =
    """name: router/15m/rxhigh
      |kpi_data:
      |  - name: rx_mb
      |    data_type: numeric
      |thresholds:
      |  - name: max_rx
      |    data_type: numeric
      |    value: 10
      |condition: |-
      |  rx_mb > max_rx
      |weight: |-
      |  SELECT
      |      CASE
      |          WHEN $1.rx_mb > 20 THEN 900
      |          ELSE 100
      |      END
      |notification: |-
      |  SELECT format('rx %s exceeds %s', $1.rx_mb, $1.max_rx)
      |notification_store: alerts
      |granularity: 15m
      |""".stripMargin
}
