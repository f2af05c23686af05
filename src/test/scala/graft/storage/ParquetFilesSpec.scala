package graft.storage

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.operators.{MaterializationRunner, MaterializationSpec}
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

/** Every store writer goes through [[ParquetFiles.write]]: each data file
  * it leaves behind reports ZSTD for every column chunk in its footer. The
  * session keeps Spark's snappy default, so a writer that bypasses the
  * seam shows up here as SNAPPY. */
class ParquetFilesSpec extends SparkSpec {
  import spark.implicits._

  private def fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def fresh(name: String): String = {
    val base = s"target/tmp/parquetfiles_$name"
    fs.delete(new Path(base), true)
    base
  }

  /** Codec of every column chunk of every parquet data file under `dir`. */
  private def codecs(dir: String): Map[String, Set[CompressionCodecName]] = {
    val files = fs.listFiles(new Path(dir), true)
    val out = Map.newBuilder[String, Set[CompressionCodecName]]
    while (files.hasNext) {
      val p = files.next().getPath
      if (p.getName.endsWith(".parquet")) {
        val r = ParquetFileReader.open(
          HadoopInputFile.fromPath(p, spark.sparkContext.hadoopConfiguration))
        try out += p.toString -> r.getFooter.getBlocks.asScala
          .flatMap(_.getColumns.asScala.map(_.getCodec)).toSet
        finally r.close()
      }
    }
    out.result()
  }

  /** A file from an empty task has no row groups, hence no column chunks;
    * every chunk of the others must be ZSTD. */
  private def assertZstd(dir: String): Unit = {
    val byFile = codecs(dir)
    assert(byFile.values.flatten.nonEmpty, s"no column chunks under $dir")
    byFile.foreach { case (f, cs) =>
      assert(cs.subsetOf(Set(CompressionCodecName.ZSTD)), s"$f has codecs $cs")
    }
  }

  private def trendBatch(rows: (Long, Long, Double)*) =
    rows.map { case (e, t, v) => (e, t, v, 100L) }
      .toDF("entity_id", "timestamp", "power", "modified")

  test("PartStore.store writes zstd on first append and on merge") {
    val base = fresh("store")
    val ps = new PartStore(spark, PartStoreConfig(base, 86400))
    ps.store("p", trendBatch((1L, 1000L, 1.0), (2L, 90000L, 2.0)))
    assertZstd(s"$base/p")
    ps.store("p", trendBatch((1L, 1000L, 5.0), (3L, 1000L, 3.0)))
    assertZstd(s"$base/p/pindex=0")
    assert(ps.readPart("p").get.count() == 3L)
  }

  test("rewritePart, replacePart and compactPart write zstd") {
    val base = fresh("rewrite")
    val ps = new PartStore(spark, PartStoreConfig(base, 86400))
    ps.store("r", trendBatch((1L, 1000L, 1.0)))
    ps.rewritePart("r", _.withColumn("power", col("power") * 2))
    assertZstd(s"$base/r")
    ps.replacePart("q", trendBatch((1L, 1000L, 1.0), (2L, 90000L, 2.0)))
    assertZstd(s"$base/q")
    // a z-ordered store lands several range files per partition, which
    // is what compactPart bin-packs
    val rows = (0 until 400).map(i => (i.toLong, 10L, (i * 37 % 100).toLong, 100L))
    ps.store("c", rows.toDF("entity_id", "timestamp", "seq", "modified"),
      zorderBy = Seq("entity_id", "seq"))
    assert(ps.compactPart("c") == 1)
    assertZstd(s"$base/c")
  }

  test("markModified and compactModifiedLog write zstd") {
    val base = fresh("mlog")
    val ps = new PartStore(spark, PartStoreConfig(base, 86400))
    val b = trendBatch((1L, 1000L, 1.0), (2L, 90000L, 2.0))
    ps.markModified("p", b, nowSec = 10L)
    ps.markModified("p", b, nowSec = 20L)
    assertZstd(s"$base/_modified_log")
    assert(ps.compactModifiedLog() == 2L)
    assertZstd(s"$base/_modified_log")
  }

  test("NotificationStore.store and MaterializationRunner state write zstd") {
    val base = fresh("notif")
    new NotificationStore(spark, s"$base/notif")
      .store(Seq((1L, 1000L, "hot")).toDF("entity_id", "timestamp", "rule"), 5L)
    assertZstd(s"$base/notif")

    val ps = new PartStore(spark, PartStoreConfig(s"$base/parts", 86400))
    val runner = new MaterializationRunner(spark, ps, s"$base/state")
    val spec = MaterializationSpec("hourly",
      chunk => trendBatch((1L, chunk, 1.0)), stabilityDelaySec = 0,
      retentionSec = Long.MaxValue / 4)
    val fp = Seq((0L, "a", 1L)).toDF("chunk", "fingerprint", "max_modified")
    assert(runner.run(spec, fp, nowSec = 10L) == Seq(0L))
    assertZstd(s"$base/state/hourly")
  }

  test("AttributeStore, TagDirectory, EntityDirectory and JobLog write zstd") {
    val base = fresh("dirs")
    val as = new AttributeStore(spark, s"$base/attr")
    as.transferStaged(Seq((1L, 100L, "up"), (2L, 100L, "down"))
      .toDF("entity_id", "timestamp", "state"), nowSec = 1L)
    assert(as.materializeCompacted() == 2L)
    assert(as.materializeCurrent() == 2L)
    as.transferStaged(Seq((1L, 200L, "down")).toDF("entity_id", "timestamp", "state"), 2L)
    assert(as.materializeCurrentIncremental() == 2L)
    assertZstd(s"$base/attr")

    val td = new TagDirectory(spark, s"$base/tags")
    td.tagEntities(Seq(("g", "red", 1L), ("g", "blue", 2L)).toDF("tag_group", "tag", "entity_id"))
    td.retagComplementary(Seq(("g", "blue", 1L)).toDF("tag_group", "tag", "entity_id"))
    td.flushTag("red")
    td.tagNames(Seq(("kpi", "power"), ("kpi", "state")).toDF("tag", "name"))
    td.flushNameTag("other")
    assertZstd(s"$base/tags/_tags")
    assertZstd(s"$base/tags/_nametags")

    val ed = new EntityDirectory(spark, s"$base/entity")
    assert(ed.insertMissing("router", Seq("r1", "r2").toDF("name")) == 2L)
    assertZstd(s"$base/entity/router")

    val log = new JobLog(spark, base)
    log.endJob(log.startJob("load", 1L), 2L)
    assertZstd(s"$base/_job_log")
  }

  test("a snappy partition takes a zstd merge batch and reads back row-identical") {
    val base = fresh("mixed")
    val ps = new PartStore(spark, PartStoreConfig(base, 86400))
    // a part written before the seam existed: every partition snappy
    val old = trendBatch((1L, 1000L, 1.0), (2L, 1000L, 2.0), (1L, 90000L, 3.0))
      .withColumn("pindex", (col("timestamp") / 86400).cast("long"))
    old.write.option("compression", "snappy").partitionBy("pindex").parquet(s"$base/p")
    SchemaSidecar.write(fs, s"$base/p", old.schema)
    assert(codecs(s"$base/p").values.flatten.toSet == Set(CompressionCodecName.SNAPPY))
    // the merge batch touches pindex=1 only: it lands zstd beside pindex=0,
    // which stays snappy
    ps.store("p", Seq((1L, 90000L, 30.0, 200L), (3L, 90000L, 4.0, 200L))
      .toDF("entity_id", "timestamp", "power", "modified"))
    assert(codecs(s"$base/p/pindex=0").values.flatten.toSet == Set(CompressionCodecName.SNAPPY))
    assertZstd(s"$base/p/pindex=1")
    val back = ps.readPart("p").get
      .select("entity_id", "timestamp", "power", "modified", "pindex")
      .orderBy("timestamp", "entity_id").as[(Long, Long, Double, Long, Long)].collect().toSeq
    assert(back == Seq(
      (1L, 1000L, 1.0, 100L, 0L), (2L, 1000L, 2.0, 100L, 0L),
      (1L, 90000L, 30.0, 200L, 1L), (3L, 90000L, 4.0, 200L, 1L)))
  }
}
