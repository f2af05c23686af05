package graft.operators

import graft.SparkSpec
import graft.storage.{AttributeStore, PartStore, PartStoreConfig}
import org.apache.spark.sql.functions._

/** The §3.2 materialize lifecycle: stale-chunk selection → recompute →
  * state update; second pass is a no-op until sources change. */
class MaterializationRunnerSpec extends SparkSpec {
  import spark.implicits._

  private def fp(src: org.apache.spark.sql.DataFrame) =
    Materialization.fingerprint(
      Materialization.modifiedState(src, Seq("hr", "entity_id"), "modified"),
      "hr", "entity_id", "last_modified")
      .withColumnRenamed("hr", "chunk")

  test("runner materializes stale chunks once, then converges") {
    val base = "target/tmp/matrunner"
    val fsys = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(base), true)
    val ps = new PartStore(spark, PartStoreConfig(s"$base/parts", 86400))

    var source = Seq(
      (1L, 100L, 2.0, 50L), (1L, 3700L, 3.0, 60L), (2L, 100L, 4.0, 70L)
    ).toDF("entity_id", "timestamp", "value", "modified")
      .withColumn("hr", (col("timestamp") - pmod(col("timestamp"), lit(3600L))))

    val spec = MaterializationSpec(
      target = "hourly",
      compute = chunk => TimeAggregation.rollup(
        source.filter(col("hr") === chunk), "entity_id", "timestamp", 3600,
        Seq(TimeAggregation.samples, sum("value").as("value")))
        .withColumn("modified", lit(999L)),
      stabilityDelaySec = 10,
      retentionSec = 1000000L
    )
    val runner = new MaterializationRunner(spark, ps, s"$base/state")

    val done1 = runner.run(spec, fp(source), nowSec = 10000)
    assert(done1.toSet == Set(0L, 3600L))
    val rolled = ps.readPart("hourly").get
    assert(rolled.count() == 3) // (e1,hr0),(e2,hr0),(e1,hr3600)

    // converged: nothing stale on second pass
    assert(runner.run(spec, fp(source), nowSec = 10000).isEmpty)

    // a late write to hour 0 changes its fingerprint → only that chunk reruns
    source = source.union(Seq((1L, 200L, 10.0, 80L))
      .toDF("entity_id", "timestamp", "value", "modified")
      .withColumn("hr", lit(0L)))
    val done3 = runner.run(spec, fp(source), nowSec = 10000)
    assert(done3 == Seq(0L))
    val v = ps.readPart("hourly").get
      .filter(col("entity_id") === 1 && col("timestamp") === 3600)
      .select("value").head.getDouble(0)
    assert(v == 12.0) // 2.0 + 10.0 recomputed
  }

  test("stability delay holds back unsettled chunks") {
    val base = "target/tmp/matrunner2"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val ps = new PartStore(spark, PartStoreConfig(s"$base/parts", 86400))
    val source = Seq((1L, 100L, 2.0, 9990L))
      .toDF("entity_id", "timestamp", "value", "modified")
      .withColumn("hr", lit(0L))
    val spec = MaterializationSpec("hourly",
      chunk => source.select(col("entity_id"), lit(chunk + 3600).as("timestamp"),
        col("value"), col("modified")),
      stabilityDelaySec = 60, retentionSec = 1000000L)
    val runner = new MaterializationRunner(spark, ps, s"$base/state")
    // modified=9990, now=10000 → only 10s settled < 60s stability delay
    assert(runner.run(spec, fp(source), nowSec = 10000).isEmpty)
    assert(runner.run(spec, fp(source), nowSec = 10060).nonEmpty)
  }

  test("a corrupt state file makes run() throw instead of recomputing every chunk") {
    val base = "target/tmp/matrunner_corrupt"
    val fsys = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fsys.delete(new org.apache.hadoop.fs.Path(base), true)
    val ps = new PartStore(spark, PartStoreConfig(s"$base/parts", 86400))
    val source = Seq((1L, 100L, 2.0, 50L))
      .toDF("entity_id", "timestamp", "value", "modified")
      .withColumn("hr", lit(0L))
    val spec = MaterializationSpec("hourly",
      chunk => source.select(col("entity_id"), lit(chunk).as("timestamp"),
        col("value"), col("modified")),
      stabilityDelaySec = 0, retentionSec = 1000000L)
    val runner = new MaterializationRunner(spark, ps, s"$base/state")
    assert(runner.run(spec, fp(source), nowSec = 10000) == Seq(0L))
    // replace the state table's data with bytes that are not parquet
    val state = new org.apache.hadoop.fs.Path(s"$base/state/hourly")
    fsys.delete(state, true)
    fsys.mkdirs(state)
    val out = fsys.create(new org.apache.hadoop.fs.Path(state, "part-00000.parquet"))
    try out.write("not a parquet file".getBytes("UTF-8")) finally out.close()
    intercept[Exception](runner.run(spec, fp(source), nowSec = 10000))
  }

  test("attribute store: history, compaction, current") {
    val base = "target/tmp/attrstore"
    org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
      .delete(new org.apache.hadoop.fs.Path(base), true)
    val as = new AttributeStore(spark, base)
    assert(as.history.isEmpty)
    as.transferStaged(Seq((1L, 100L, "up"), (2L, 100L, "down"))
      .toDF("entity_id", "timestamp", "state"), nowSec = 1000)
    as.transferStaged(Seq((1L, 200L, "up"), (2L, 200L, "up"))
      .toDF("entity_id", "timestamp", "state"), nowSec = 2000)
    assert(as.history.get.count() == 4)
    // entity 1 never changed → compacts to 1 row; entity 2 changed → 2 rows
    assert(as.compacted(Seq("state")).get.count() == 3)
    val cur = as.current.get.sort("entity_id").collect()
    assert(cur.map(_.getAs[String]("state")).toSeq == Seq("up", "up"))
    assert(cur.forall(_.getAs[Long]("timestamp") == 200L))
  }
}
