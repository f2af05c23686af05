package graft.cli

import graft.core.Json.quote
import graft.core.MinervaType
import graft.model.InstanceModel
import graft.operators._
import graft.sources.{CsvSourceConfig, CsvTrendSource, SampleDataGen}
import graft.storage.{ParquetFiles, PartStore, PartStoreConfig}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Thin command layer mirroring the reference's `minerva` CLI
  * (src/minerva/commands/minerva_cli.py): load-data, materialize, report,
  * trigger. Each subcommand is a few lines of glue over the library —
  * the CLI exists so a reference user has the same operational entry points.
  *
  * Usage:
  *   load-data   <csv> <identifierCol> <timestampCol> <storeBase> <part> [partitionSizeSec]
  *   report      <storeBase> <part>
  *   trigger     <storeBase> <part> <triggerYamlPath> <outDir>
  *   materialize <storeBase> <sourcePart> <targetPart> <granSec>
  */
object Main {
  def spark(): SparkSession = graft.Session.local(graft.Session.cores(4))

  private def jarr(xs: Seq[String]): String = xs.mkString("[", ",", "]")

  /** Filename slug for an installed trigger: reference trigger names carry
    * slashes (`node/15m/highpowerusage`) — flattened for the registry
    * file, the real name stays inside the YAML. */
  private def triggerSlug(name: String): String =
    name.replaceAll("[^A-Za-z0-9._-]", "_")

  /** Load native sample data sets into trend parts / attribute stores —
    * shared by `initialize --load-sample-data` and the standalone
    * `load-sample-data` verb (reference load_sample_data.py:26-60 takes
    * an optional dataset name + --interval-count). Returns
    * (loaded trend partitions, loaded attribute rows). */
  private def loadSampleDataSets(
      s: SparkSession, instanceDir: String, inst: graft.model.Instance,
      entityDir: graft.storage.EntityDirectory, ps: PartStore,
      attrStores: Seq[(graft.model.AttributeStoreDef, graft.storage.AttributeStore)],
      intervals: Int, now: Long, dataset: Option[String]): (Int, Long) = {
    var loadedParts = 0
    var loadedAttrRows = 0L
    val defs = InstanceModel.loadSampleDataDefs(instanceDir)
      .filter(ds => dataset.forall(_ == ds.name))
    dataset.foreach { name =>
      if (defs.isEmpty) {
        System.err.println(s"no sample data set named '$name'")
        exit(1)
      }
    }
    defs.foreach { ds =>
      def exists(p: String) =
        java.nio.file.Files.exists(java.nio.file.Paths.get(p))
      // a `<name>/sample.csv` WITH `{{ }}` placeholders is a
      // per-interval TEMPLATE (the reference's generator-module
      // layout) — render it; placeholder-free files are literal data
      val template = s"$instanceDir/sample-data/${ds.name}/sample.csv"
      val isTemplate = exists(template) && java.nio.file.Files
        .readString(java.nio.file.Paths.get(template)).contains("{{")
      val csv =
        if (isTemplate) {
          val zone = java.time.ZoneId.of("UTC")
          var t = ds.granularity.truncate(
            java.time.Instant.ofEpochSecond(now), zone)
          val tss = (1 to intervals).map { _ =>
            val v = t.getEpochSecond; t = ds.granularity.prev(t, zone); v
          }.reverse
          Some(SampleDataGen.generate(
            template,
            java.nio.file.Files.createTempDirectory("graft_sample").toString,
            tss))
        } else Seq(
          s"$instanceDir/sample-data/${ds.name}.csv",
          template, // placeholder-free <name>/sample.csv = literal data
          s"$instanceDir/sample-data/sample.csv").find(exists)
      csv.foreach { path =>
        val cfg = CsvSourceConfig(ds.identifier, Some(ds.timestamp),
          delimiter = ds.delimiter)
        // deduction supplies the file's column order; declared types win
        val declared = ds.columns.toMap
        val schema = CsvTrendSource.deduceSchemaDistributed(s, path, cfg).map {
          case (c, _) if c == ds.timestamp => c -> MinervaType.MTimestamp
          case (c, t) => c -> declared.getOrElse(c, t)
        }
        val pkg = CsvTrendSource.read(s, path, cfg, schema)
        entityDir.insertMissing(
          ds.entityType, pkg.select(col("entity").as("name")))
        val dim = entityDir.read(ds.entityType)
        val batch = pkg.join(dim, pkg("entity") === dim("name"))
          .drop("entity", "name").withColumnRenamed("id", "entity_id")
          .withColumn("modified", lit(now))
        if (ds.kind == "attribute") {
          // attribute sample set → the store on its data source
          attrStores.find(_._1.dataSource == ds.dataSource) match {
            case Some((_, store)) =>
              // one CSV read serves both the write and the row count
              val staged = batch.drop("modified").persist()
              store.transferStaged(staged, now)
              loadedAttrRows += staged.count()
              staged.unpersist()
            case None =>
              System.err.println(
                s"WARN: attribute sample set '${ds.name}' names data " +
                  s"source '${ds.dataSource}' but no attribute store " +
                  "declares it — set skipped")
          }
        } else {
          val valueCols = pkg.columns.filterNot(Set("entity", "timestamp")).toSet
          // target part: the store on this data source + granularity whose
          // part declares the sample's value columns (load_sample_data
          // matches the generated DataPackage to a part the same way)
          val matched = inst.trendStores
            .filter(st => st.dataSource == ds.dataSource &&
              st.granularity.name == ds.granularity.name)
            .flatMap(_.parts)
            .find(p => valueCols.subsetOf(p.trends.map(_.name).toSet ++
              Set("entity", "timestamp")))
          val target = matched
            .orElse(inst.trendStores.filter(_.dataSource == ds.dataSource)
              .flatMap(_.parts).headOption)
          if (matched.isEmpty) target.foreach { p =>
            System.err.println(
              s"WARN: sample set '${ds.name}' columns " +
                s"${valueCols.mkString(", ")} match no declared part — " +
                s"falling back to first part '${p.name}' of data source " +
                s"'${ds.dataSource}'")
          }
          target.foreach { p =>
            loadedParts += ps.store(p.name, batch)
            ps.markModified(p.name, batch, now)
          }
        }
      }
    }
    (loadedParts, loadedAttrRows)
  }

  /** Resolve an aggregation definition's source store: by title, else by
    * any part the definition sources (shared by aggregation-compile and
    * aggregation-generate so the two lookups cannot drift). */
  private def findAggregationSource(
      stores: Seq[graft.model.TrendStore], source: String,
      parts: Seq[graft.model.AggregationPartDef])
      : Option[graft.model.TrendStore] =
    stores.find(st => st.title == source ||
      st.parts.exists(p => parts.exists(_.source == p.name)))

  /** Shared attribute-harvest chain (package → entity resolution →
    * job-logged staged transfer) behind both `load-attributes` (built-in
    * CSV plugin) and `harvest-attributes <plugin>` (registry lookup) —
    * the attribute twin of the trend `harvest` chain. */
  private def harvestAttributes(
      s: org.apache.spark.sql.SparkSession, src: graft.sources.AttributeSource,
      path: String, base: String, storeName: String, jobDesc: String): Unit = {
    val pkg = src.read(s, path)
    val dim = pkg.sparkSession.createDataFrame(
      pkg.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
    val pkgS = pkg.withColumn("entity", col("entity").cast("string"))
    val resolved = EntityResolution.resolveHash(
      pkgS.select(col("entity").as("name")), dim, "default")
    val now = System.currentTimeMillis() / 1000
    val jobLog = new graft.storage.JobLog(s, base)
    val jobId = jobLog.startJob(jobDesc, now)
    val batch = pkgS.join(resolved, pkgS("entity") === resolved("name"))
      .drop("entity", "name")
      .withColumnRenamed("id", "entity_id")
      .withColumn("job_id", lit(jobId))
      .persist() // one source read serves both the write and the row count
    val store = new graft.storage.AttributeStore(s, s"$base/$storeName")
    store.transferStaged(batch, now)
    val nRows = batch.count()
    batch.unpersist()
    jobLog.endJob(jobId, System.currentTimeMillis() / 1000)
    println(s"""{"loaded_rows":$nRows,"store":"$storeName","job_id":$jobId,"plugin":"${src.name}"}""")
  }

  /** Exit with `code` without killing the JVM: commands signal failure by
    * throwing [[CliExit]], `main` converts it to a process exit, and tests
    * call [[run]] directly and intercept it — CLI error paths become
    * assertable in-process. */
  final case class CliExit(code: Int)
    extends RuntimeException(s"exit $code")
  private def exit(code: Int): Nothing = throw CliExit(code)

  def main(args: Array[String]): Unit =
    try run(args.toList)
    catch { case CliExit(code) => sys.exit(code) }

  def run(args: List[String]): Unit = args match {
    case "load-data" :: csv :: idCol :: tsCol :: base :: part :: rest =>
      val s = spark()
      val psize = rest.headOption.map(_.toLong).getOrElse(86400L)
      val cfg = CsvSourceConfig(idCol, Some(tsCol))
      val schema = CsvTrendSource.deduceSchemaDistributed(s, csv, cfg)
        .map { case (c, t) => if (c == tsCol) c -> MinervaType.MTimestamp else c -> t }
      val pkg = CsvTrendSource.read(s, csv, cfg, schema)
      val dim = pkg.sparkSession.createDataFrame(
        pkg.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
      // cast entity to string BEFORE the resolve join: resolveHash hashes
      // the string form (the one identity convention shared with harvest
      // and both attribute verbs), and a long===string join would coerce
      // both sides to double (precision loss past 2^53)
      val pkgS0 = pkg.withColumn("entity", col("entity").cast("string"))
      val resolved = EntityResolution.resolveHash(
        pkgS0.select(col("entity").as("name")), dim, "default")
      val now = System.currentTimeMillis() / 1000
      val jobLog = new graft.storage.JobLog(s, base)
      val jobId = jobLog.startJob(s"load-data $csv -> $part", now)
      // every stored row carries the loading job's id
      // (trendstorepart.py:440-454)
      val batch = pkgS0.join(resolved, pkgS0("entity") === resolved("name"))
        .drop("entity", "name")
        .withColumnRenamed("id", "entity_id")
        .withColumn("modified", lit(now))
        .withColumn("job_id", lit(jobId))
      val ps = new PartStore(s, PartStoreConfig(base, psize))
      val n = ps.store(part, batch)
      ps.markModified(part, batch, now)
      jobLog.endJob(jobId, System.currentTimeMillis() / 1000)
      println(s"""{"loaded_partitions":$n,"part":"$part","job_id":$jobId}""")

    // Harvest through a NAMED plugin (reference `load-data --type`,
    // commands/load_data.py over harvest/plugins.py): resolves built-ins,
    // register()ed vendor sources, AND ServiceLoader-discovered jar
    // drop-ins (META-INF/services/graft.sources.TrendSource), then runs
    // the same resolve → job-log → store chain as load-data.
    case "harvest" :: plugin :: path :: base :: part :: rest =>
      val s = spark()
      val psize = rest.headOption.flatMap(_.toLongOption).getOrElse(86400L)
      val src = graft.sources.TrendSources.get(plugin).getOrElse {
        System.err.println(s"no such harvest plugin: $plugin " +
          s"(available: ${graft.sources.TrendSources.names.mkString(", ")})")
        exit(2); null
      }
      val pkg = src.read(s, path)
      val dim = pkg.sparkSession.createDataFrame(
        pkg.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))
      val resolved = EntityResolution.resolveHash(
        pkg.select(col("entity").cast("string").as("name")), dim, "default")
      val now = System.currentTimeMillis() / 1000
      val jobLog = new graft.storage.JobLog(s, base)
      val jobId = jobLog.startJob(s"harvest $plugin $path -> $part", now)
      val pkgS = pkg.withColumn("entity", col("entity").cast("string"))
      val batch = pkgS.join(resolved, pkgS("entity") === resolved("name"))
        .drop("entity", "name")
        .withColumnRenamed("id", "entity_id")
        .withColumn("modified", lit(now))
        .withColumn("job_id", lit(jobId))
      val ps = new PartStore(s, PartStoreConfig(base, psize))
      val n = ps.store(part, batch)
      ps.markModified(part, batch, now)
      jobLog.endJob(jobId, System.currentTimeMillis() / 1000)
      println(s"""{"loaded_partitions":$n,"part":"$part","job_id":$jobId,"plugin":"$plugin"}""")

    // Attribute harvest path (plugin_api_attribute.py + attribute
    // DataPackage): typed package → entity resolution → staging transfer
    // into the attribute store, job-logged like trend loads. Routed
    // through the AttributeSource plugin registry — load-attributes is
    // the built-in CSV plugin with an explicit per-file config, exactly
    // how the reference's CSV parser serves plugin_api_attribute.
    case "load-attributes" :: csv :: idCol :: tsCol :: base :: storeName :: Nil =>
      val s = spark()
      val src = graft.sources.CsvAttributeSource.plugin(
        CsvSourceConfig(idCol, Some(tsCol)))
      harvestAttributes(s, src, csv, base, storeName,
        s"load-attributes $csv -> $storeName")

    // Attribute harvest through a NAMED plugin (reference
    // plugin_api_attribute.py + harvest/plugins.py entry points): resolves
    // built-ins, register()ed vendor sources, AND ServiceLoader-discovered
    // jar drop-ins (META-INF/services/graft.sources.AttributeSource) —
    // the attribute twin of the trend-side `harvest` verb.
    case "harvest-attributes" :: plugin :: path :: base :: storeName :: Nil =>
      val s = spark()
      val src = graft.sources.AttributeSources.get(plugin).getOrElse {
        System.err.println(s"no such attribute harvest plugin: $plugin " +
          s"(available: ${graft.sources.AttributeSources.names.mkString(", ")})")
        exit(2); null
      }
      harvestAttributes(s, src, path, base, storeName,
        s"harvest-attributes $plugin $path -> $storeName")

    // `minerva aggregation compile` (commands/aggregation.py:123-140 +
    // aggregation_compilation.py:562-599): read an aggregation definition,
    // compile against the instance's trend stores, write the target trend
    // store + one materialization YAML per part back into the instance.
    case "aggregation-compile" :: instanceDir :: aggYamlPath :: Nil =>
      val defn = InstanceModel.parseAggregation(
        java.nio.file.Files.readString(java.nio.file.Paths.get(aggYamlPath)))
      if (defn.timeAggregation.isEmpty && defn.entityAggregation.isEmpty) {
        System.err.println(
          "definition has neither time_aggregation nor entity_aggregation")
        exit(1)
      }
      val inst = InstanceModel.loadInstance(instanceDir)
      def findSource(source: String, parts: Seq[graft.model.AggregationPartDef]) =
        findAggregationSource(inst.trendStores, source, parts)
          .getOrElse {
            System.err.println(s"no trend store matching source '$source'")
            exit(1); null
          }
      val trendDir = java.nio.file.Paths.get(instanceDir, "trend")
      val matDir = java.nio.file.Paths.get(instanceDir, "materialization")
      java.nio.file.Files.createDirectories(trendDir)
      java.nio.file.Files.createDirectories(matDir)
      def write(name: String, compiled: AggregationCompiler.CompiledAggregation): Unit = {
        java.nio.file.Files.writeString(trendDir.resolve(s"$name.yaml"),
          InstanceModel.renderTrendStore(compiled.targetStore))
        compiled.units.foreach { u =>
          java.nio.file.Files.writeString(
            matDir.resolve(s"${u.targetPart}.yaml"),
            InstanceModel.renderMaterialization(u.materialization))
        }
        println(s"""{"compiled":"$name","parts":${compiled.units.length}}""")
      }
      defn.timeAggregation.foreach { ta =>
        write(ta.name,
          AggregationCompiler.compileTimeAggregation(
            findSource(ta.source, ta.parts), ta))
      }
      // entity compilation writes the same YAML artifacts (reference
      // compile_entity_aggregation, aggregation_compilation.py:113-189);
      // the relation is only needed at materialization time, never here
      defn.entityAggregation.foreach { ea =>
        write(ea.name,
          AggregationCompiler.compileEntityAggregation(
            findSource(ea.source, ea.parts), ea,
            AggregationCompiler.noRelation(ea.name)))
      }

    // `minerva aggregation compile-all` (commands/aggregation.py:68-76 +
    // 95-120): compile every aggregation/*.yaml in the instance, sorted —
    // each compile reloads the instance, so chained definitions resolve
    // against targets written by earlier files.
    case "aggregation-compile-all" :: instanceDir :: Nil =>
      val aggDir = java.nio.file.Paths.get(instanceDir, "aggregation")
      val files =
        if (!java.nio.file.Files.isDirectory(aggDir)) Seq.empty[String]
        else aggDir.toFile.list().toSeq.filter(_.endsWith(".yaml")).sorted
      files.foreach { f =>
        run(List("aggregation-compile", instanceDir,
          aggDir.resolve(f).toString))
      }
      println(s"""{"compiled_definitions":${files.length}}""")

    // `minerva trend-materialization create|update|drop|list`
    // (commands/trend_materialization.py:70-127): administer the
    // materialization registry — here the instance's materialization/
    // directory, which the runner and `materialize` read. create refuses
    // a duplicate (reference DuplicateTable), update requires one, drop
    // reports whether anything matched. The input YAML is stored
    // VERBATIM (validated by parseMaterialization first) so view
    // definitions and comments survive.
    case "trend-materialization" :: action :: instanceDir :: rest
        if Set("create", "update", "drop", "list")(action) =>
      val dir = java.nio.file.Paths.get(instanceDir, "materialization")
      def arg(what: String): String = rest.headOption.getOrElse {
        System.err.println(s"trend-materialization $action needs $what")
        exit(2); ""
      }
      action match {
        case "create" | "update" =>
          val text = java.nio.file.Files.readString(
            java.nio.file.Paths.get(arg("a definition yaml")))
          val m = InstanceModel.parseMaterialization(text)
          val f = dir.resolve(s"${triggerSlug(m.targetTrendStorePart)}.yaml")
          val exists = java.nio.file.Files.exists(f)
          if (action == "create" && exists) {
            System.err.println("Error creating materialization: " +
              s"'${m.targetTrendStorePart}' already exists")
            exit(1)
          }
          if (action == "update" && !exists) {
            System.err.println(
              s"No materialization matched name '${m.targetTrendStorePart}'")
            exit(1)
          }
          java.nio.file.Files.createDirectories(dir)
          java.nio.file.Files.writeString(f, text)
          println(s"""{"materialization":${quote(m.targetTrendStorePart)},"${
            if (action == "create") "created" else "updated"}":true}""")
        case "drop" =>
          val name = arg("a name")
          val existed = java.nio.file.Files.deleteIfExists(
            dir.resolve(s"${triggerSlug(name)}.yaml"))
          println(s"""{"materialization":${quote(name)},"dropped":$existed}""")
        case "list" =>
          val files =
            if (!java.nio.file.Files.isDirectory(dir)) Seq.empty[String]
            else dir.toFile.list().toSeq.filter(_.endsWith(".yaml")).sorted
          println(files.map { f =>
            val m = InstanceModel.parseMaterialization(
              java.nio.file.Files.readString(dir.resolve(f)))
            s"""{"name":${quote(m.targetTrendStorePart)},"enabled":${m.enabled},""" +
              s""""sources":${m.sources.length}}"""
          }.mkString("[", ",", "]"))
      }

    // `minerva trend-store check-config` (commands/trend_store/
    // check_config.py): validate definitions — duplicate part names (the
    // reference check) plus duplicate trend names within a part.
    case "trend-store" :: "check-config" :: instanceDir :: Nil =>
      val inst = InstanceModel.loadInstance(instanceDir)
      var errors = 0
      inst.trendStores.foreach { ts =>
        val dupParts = ts.parts.groupBy(_.name).filter(_._2.length > 1).keys
        dupParts.foreach { n =>
          System.err.println(s"trend store '${ts.title}': duplicate part '$n'")
          errors += 1
        }
        ts.parts.foreach { p =>
          val dupTrends = (p.trends.map(_.name) ++ p.generatedTrends.map(_.name))
            .groupBy(identity).filter(_._2.length > 1).keys
          dupTrends.foreach { n =>
            System.err.println(
              s"trend store '${ts.title}' part '${p.name}': duplicate trend '$n'")
            errors += 1
          }
        }
      }
      println(s"""{"trend_stores":${inst.trendStores.length},"errors":$errors}""")
      if (errors > 0) exit(1)

    // `minerva trend-store deduce` (commands/trend_store/deduce.py +
    // harvest/trend_config_deducer.py): deduce a full trend-store
    // DEFINITION from a data file — exact distributed deduction, rendered
    // as the same YAML `initialize` consumes.
    case "trend-store" :: "deduce" :: csv :: idCol :: tsCol :: rest =>
      val s = spark()
      val (dataSource, entityType, granName) = rest match {
        case ds :: et :: g :: Nil => (ds, et, g)
        case ds :: et :: Nil => (ds, et, "1d")
        case Nil => ("default", "node", "1d")
        case other => sys.error(s"unexpected arguments: ${other.mkString(" ")}")
      }
      val gran = graft.core.Granularity.parse(granName)
      val cfg = CsvSourceConfig(idCol, Some(tsCol))
      val schema = CsvTrendSource.deduceSchemaDistributed(s, csv, cfg)
      val trends = schema.collect {
        case (c, t) if c != idCol && c != tsCol =>
          graft.model.Trend(name = c, dataType = t)
      }
      val store = graft.model.TrendStore(
        title = s"Deduced from $csv",
        dataSource = dataSource,
        entityType = entityType,
        granularity = gran,
        partitionSize = graft.operators.AggregationCompiler.partitionSizeFor(gran),
        parts = Seq(graft.model.TrendStorePart(
          name = s"${dataSource}_${entityType}_$granName",
          trends = trends)))
      println(InstanceModel.renderTrendStore(store))

    // `minerva trend-store add-trends|remove-trends|alter-trends|change`
    // (commands/trend_store.py:99-260): reconcile an edited trend-store
    // definition against live populated parts. Adds/drops/in-ladder widens
    // are metadata-only sidecar edits; cross-ladder or forced changes pay
    // one cast rewrite (TrendMigration).
    case "trend-store" :: action :: tail
        if Set("add-trends", "remove-trends", "alter-trends", "change")(action) =>
      import graft.storage.TrendMigration
      val flags = tail.filter(_.startsWith("--")).toSet
      val force = flags.contains("--force")
      val (base, defFile) = tail.filterNot(_.startsWith("--")) match {
        case b :: f :: Nil => (b, f)
        case other => sys.error(
          s"usage: trend-store $action [--force] [--purge] <storeBase> <definition.yaml>" +
            s" (got: ${other.mkString(" ")})")
      }
      val s = spark()
      val ts = InstanceModel.parseTrendStore(
        java.nio.file.Files.readString(java.nio.file.Paths.get(defFile)))
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      action match {
        case "add-trends" =>
          val added = ts.parts.flatMap(p => TrendMigration.addTrends(ps, p))
          if (added.nonEmpty) println(s"Added trends: ${added.mkString(", ")}")
          else println("No trends to be added")
        case "remove-trends" =>
          val removed = ts.parts.flatMap(p =>
            TrendMigration.removeTrends(ps, p, purge = flags.contains("--purge")))
          if (removed.nonEmpty) println(s"Removed trends: ${removed.mkString(", ")}")
          else println("No trends to be removed.")
        case "alter-trends" =>
          val changed = ts.parts.flatMap(p => TrendMigration.alterTrends(ps, p, force))
          if (changed.nonEmpty) println(s"Changed columns: ${changed.mkString(", ")}")
          else println("No columns were changed.")
        case "change" =>
          ts.parts.foreach { p =>
            println(s"applying changes for part '${p.name}':")
            val r = TrendMigration.changePart(ps, p, force)
            if (r.added.nonEmpty || r.removed.nonEmpty || r.changed.nonEmpty) {
              println(s"added ${r.added.mkString("[", ", ", "]")}")
              println(s"removed ${r.removed.mkString("[", ", ", "]")}")
              println(s"changed ${r.changed.mkString("[", ", ", "]")}")
            } else println("no changes were made")
          }
      }

    // `minerva trend-store create|add-parts` (commands/trend_store/
    // create.py, add_parts.py): register a store's parts as fresh sidecars
    // (the O(1) analogue of CREATE TABLE — partitions materialize on first
    // load). `create` refuses a store ANY of whose parts already exist
    // (reference DuplicateTrendStore); `add-parts` creates only the
    // missing ones and leaves live parts untouched.
    case "trend-store" :: action :: base :: defFile :: Nil
        if action == "create" || action == "add-parts" =>
      import graft.storage.TrendMigration
      val s = spark()
      val ts = InstanceModel.parseTrendStore(
        java.nio.file.Files.readString(java.nio.file.Paths.get(defFile)))
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val (existing, missing) = ts.parts.partition(p =>
        ps.sidecarSchema(p.name).nonEmpty)
      if (action == "create" && existing.nonEmpty) {
        System.err.println(s"Duplicate trend store ${ts.dataSource}, " +
          s"${ts.entityType}, ${ts.granularity.name} — parts already " +
          s"exist: ${existing.map(_.name).mkString(", ")}")
        exit(1)
      }
      // changePart with no stored state = fresh sidecar of the declared
      // schema (get_or_create_trend_store_part)
      missing.foreach(p => TrendMigration.changePart(ps, p, force = false))
      println(s"""{"trend_store":${quote(ts.title)},"${
        if (action == "create") "created" else "added"}":${
        jarr(missing.map(p => quote(p.name)))}}""")

    // `minerva trend-store delete` (commands/trend_store/delete.py): drop
    // every part of the definition — sidecar + partition dirs + crash
    // asides.
    case "trend-store" :: "delete" :: base :: defFile :: Nil =>
      val s = spark()
      val ts = InstanceModel.parseTrendStore(
        java.nio.file.Files.readString(java.nio.file.Paths.get(defFile)))
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val deleted = ts.parts.map(_.name).filter(ps.deletePart)
      println(s"""{"trend_store":${quote(ts.title)},"deleted":${
        jarr(deleted.map(quote))}}""")

    // `minerva trend-store list` (commands/trend_store/list.py): stored
    // parts with their column counts — one directory listing + sidecar
    // reads, no data touched.
    case "trend-store" :: "list" :: base :: Nil =>
      val s = spark()
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val parts = ps.listParts().map { p =>
        val cols = ps.sidecarSchema(p).map(_.fields.length)
        s"""{"name":${quote(p)},"columns":${cols.getOrElse(-1)}}"""
      }
      println(jarr(parts))

    // `minerva trend-store list-config` (trend_store.py:242-257): the
    // INSTANCE-configured stores (YAML), vs `list` which shows what is
    // physically stored.
    case "trend-store" :: "list-config" :: instanceDir :: Nil =>
      val inst = InstanceModel.loadInstance(instanceDir)
      println(inst.trendStores.map { ts =>
        s"""{"title":${quote(ts.title)},"data_source":${quote(ts.dataSource)},""" +
          s""""entity_type":${quote(ts.entityType)},""" +
          s""""granularity":${quote(ts.granularity.name)},""" +
          s""""parts":${ts.parts.length}}"""
      }.mkString("[", ",", "]"))

    // `minerva trend-store process-modified-log` (trend_store.py:908-966):
    // fold the append-only modified log into its state — max(modified)
    // per (part, timestamp) — so staleness reads stop re-scanning every
    // appended batch. Idempotent; the reference's --reset position has no
    // analogue (the fold is total, not positional).
    case "trend-store" :: "process-modified-log" :: base :: Nil =>
      val s = spark()
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      println(s"""{"modified_state_rows":${ps.compactModifiedLog()}}""")

    // `minerva trend-store show` (commands/trend_store.py:590-650): per-
    // store introspection — declared config (trends, types, agg fns) next
    // to what is physically stored (sidecar columns), one JSON object.
    case "trend-store" :: "show" :: base :: defFile :: Nil =>
      val s = spark()
      val ts = InstanceModel.parseTrendStore(
        java.nio.file.Files.readString(java.nio.file.Paths.get(defFile)))
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val parts = ts.parts.map { p =>
        val stored = ps.sidecarSchema(p.name)
        val trends = p.trends.map(t =>
          s"""{"name":${quote(t.name)},"data_type":${quote(t.dataType.name)},""" +
            s""""time_aggregation":${quote(t.timeAggregation)},""" +
            s""""entity_aggregation":${quote(t.entityAggregation)}}""")
        val gen = p.generatedTrends.map(g =>
          s"""{"name":${quote(g.name)},"data_type":${quote(g.dataType.name)},""" +
            s""""expression":${quote(g.expression)}}""")
        val cols = stored.toSeq.flatMap(_.fields.toSeq).map(f =>
          s"""{"name":${quote(f.name)},"type":${quote(f.dataType.simpleString)}}""")
        s"""{"name":${quote(p.name)},"stored":${stored.nonEmpty},""" +
          s""""trends":${jarr(trends)},"generated_trends":${jarr(gen)},""" +
          s""""stored_columns":${jarr(cols)}}"""
      }
      println(
        s"""{"title":${quote(ts.title)},"data_source":${quote(ts.dataSource)},""" +
          s""""entity_type":${quote(ts.entityType)},""" +
          s""""granularity":${quote(ts.granularity.name)},""" +
          s""""partition_size":${quote(ts.partitionSize.name)},""" +
          s""""parts":${jarr(parts)}}""")

    // `minerva aggregation generate-standard-aggregations`
    // (aggregation_generation.py): for every RAW trend store, write +
    // compile the standard time ladder and per-relation entity
    // aggregations. Chained rungs (1d->1w) compile against the target
    // store produced by the earlier rung.
    case "aggregation-generate" :: instanceDir :: storeTitles =>
      import graft.model.{AggregationDef, AggregationGeneration => AG}
      val inst = InstanceModel.loadInstance(instanceDir)
      val aggDir = java.nio.file.Paths.get(instanceDir, "aggregation")
      val genTrendDir = java.nio.file.Paths.get(instanceDir, "trend")
      val genMatDir = java.nio.file.Paths.get(instanceDir, "materialization")
      Seq(aggDir, genTrendDir, genMatDir)
        .foreach(java.nio.file.Files.createDirectories(_))
      var stores = inst.trendStores
      var compiled = 0
      // the WHOLE ladder compiles before anything is written: outputs are
      // staged here and flushed at the end, so a failed generation (an
      // unresolvable chained rung, a bad hint) leaves the instance
      // directory unchanged instead of half-generated
      val staged = Seq.newBuilder[(java.nio.file.Path, String)]
      def compileAndWrite(
          name: String, c: AggregationCompiler.CompiledAggregation): Unit = {
        staged += genTrendDir.resolve(s"$name.yaml") ->
          InstanceModel.renderTrendStore(c.targetStore)
        c.units.foreach { u =>
          staged += genMatDir.resolve(s"${u.targetPart}.yaml") ->
            InstanceModel.renderMaterialization(u.materialization)
        }
        stores = stores :+ c.targetStore
        compiled += 1
      }
      val hints = InstanceModel.loadAggregationHints(instanceDir)
      // optional positional filters (reference `aggregation generate
      // [trend_store...]`, commands/aggregation.py:31-46 — there by file
      // path, here by store title): generate for the named raw stores only
      val rawStores = inst.trendStores.filter(AG.isRaw)
      val selected =
        if (storeTitles.isEmpty) rawStores
        else {
          val missing = storeTitles.filterNot(t => rawStores.exists(_.title == t))
          if (missing.nonEmpty) {
            System.err.println(s"no raw trend store titled: ${missing.mkString(", ")}")
            exit(1)
          }
          rawStores.filter(s => storeTitles.contains(s.title))
        }
      selected.foreach { raw =>
        val rungs = AG.timeLadder(raw)
        // mirror the reference's KeyError message (aggregation_generation
        // .py:85-88) — a silent no-op would look like a generated ladder
        if (rungs.isEmpty)
          System.err.println("no standard aggregation defined for " +
            s"granularity ${raw.granularity.name} (store '${raw.title}')")
        rungs.foreach { ta =>
          staged += aggDir.resolve(s"${ta.name}.yaml") ->
            InstanceModel.renderAggregation(AggregationDef(Some(ta), None))
          val src = findAggregationSource(stores, ta.source, ta.parts)
            .getOrElse(sys.error(s"no source store for rung '${ta.name}'"))
          compileAndWrite(ta.name, AggregationCompiler.compileTimeAggregation(src, ta))
        }
        val targets = rungs.flatMap(ta => stores.find(_.title == ta.name))
        (raw +: targets).foreach { st =>
          AG.entityAggregations(st, inst.relations, hints).foreach { ea =>
            staged += aggDir.resolve(s"${ea.name}.yaml") ->
              InstanceModel.renderAggregation(AggregationDef(None, Some(ea)))
            compileAndWrite(ea.name, AggregationCompiler.compileEntityAggregation(
              st, ea, AggregationCompiler.noRelation(ea.name)))
          }
        }
      }
      staged.result().foreach { case (p, text) =>
        java.nio.file.Files.writeString(p, text)
      }
      println(s"""{"generated":$compiled,"raw_stores":${selected.length}}""")

    // Catalog registries (reference entity_type.py / data_source.py /
    // alias.py: create/delete/list over directory tables). graft keeps
    // data sources and alias types as filesystem registries under the
    // store base; entity types ARE the entity-directory dimensions.
    case "entity-type" :: action :: base :: rest =>
      val s = spark()
      val dir = new graft.storage.EntityDirectory(s, s"$base/entity")
      def name: String = rest.headOption.getOrElse {
        System.err.println(s"entity-type $action needs a name"); exit(2); ""
      }
      action match {
        case "create" =>
          val n = name
          println(s"""{"entity_type":${quote(n)},"created":${dir.create(n)}}""")
        case "delete" =>
          val n = name
          println(s"""{"entity_type":${quote(n)},"deleted":${dir.delete(n)}}""")
        case "list" =>
          println(dir.list().map(quote).mkString("[", ",", "]"))
        case other =>
          System.err.println(s"unknown entity-type action: $other"); exit(2)
      }

    case kind :: action :: base :: rest if kind == "data-source" || kind == "alias" =>
      val fs = graft.core.HadoopFs.forPath(spark(), base)
      val dir = s"$base/_catalog/${kind.replace('-', '_')}"
      def p(n: String) = new org.apache.hadoop.fs.Path(s"$dir/$n")
      def name: String = rest.headOption.getOrElse {
        System.err.println(s"$kind $action needs a name"); exit(2); ""
      }
      action match {
        case "create" =>
          val n = name
          val created = !fs.exists(p(n)) && fs.mkdirs(p(n))
          println(s"""{"$kind":${quote(n)},"created":$created}""")
        case "delete" =>
          val n = name
          val deleted = fs.exists(p(n)) && fs.delete(p(n), true)
          println(s"""{"$kind":${quote(n)},"deleted":$deleted}""")
        case "list" =>
          val d = new org.apache.hadoop.fs.Path(dir)
          val names =
            if (!fs.exists(d)) Seq.empty
            else fs.listStatus(d).map(_.getPath.getName).toSeq.sorted
          println(names.map(quote).mkString("[", ",", "]"))
        case other =>
          System.err.println(s"unknown $kind action: $other"); exit(2)
      }

    // `minerva notification-store create` (commands/notification_store.py):
    // registers the typed store — the persisted declaration types every
    // later write, no bundle needed in hand.
    // `minerva attribute-store …` (commands/attribute_store.py:26-437):
    // day-2 operator commands over the attribute library. Stores live at
    // `<base>/attribute/<dataSource>_<entityType>` (the initialize
    // convention).
    case "attribute-store" :: "create" :: base :: yamlPath :: Nil =>
      val ad = InstanceModel.parseAttributeStore(
        java.nio.file.Files.readString(java.nio.file.Paths.get(yamlPath)))
      val name = s"${ad.dataSource}_${ad.entityType}"
      val created = graft.storage.AttributeStore.create(
        spark(), s"$base/attribute/$name", ad.attributes)
      println(s"""{"attribute_store":${quote(name)},"created":$created,""" +
        s""""attributes":${ad.attributes.length}}""")
      if (!created) {
        System.err.println(s"attribute store '$name' already exists — not overwritten")
        exit(1)
      }

    case "attribute-store" :: "delete" :: base :: name :: Nil =>
      val s = spark()
      val fs = graft.core.HadoopFs.forPath(s, base)
      val deleted = fs.delete(
        new org.apache.hadoop.fs.Path(s"$base/attribute/$name"), true)
      println(s"""{"attribute_store":${quote(name)},"deleted":$deleted}""")

    case "attribute-store" :: "list" :: base :: Nil =>
      val s = spark()
      val fs = graft.core.HadoopFs.forPath(s, base)
      val p = new org.apache.hadoop.fs.Path(s"$base/attribute")
      val names =
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
          .sorted.toSeq
      println(names.map(quote).mkString("[", ",", "]"))

    // show: declared/stored columns + row counts of history and the
    // materialized snapshots (reference show, attribute_store.py:210-246)
    case "attribute-store" :: "show" :: base :: name :: Nil =>
      val s = spark()
      val st = new graft.storage.AttributeStore(s, s"$base/attribute/$name")
      val schema = st.history.map(_.schema).orElse(st.declaredSchema)
      val cols = schema.toSeq.flatMap(_.fields.toSeq)
        .filterNot(_.name == "abucket")
        .map(f => s"""{"name":${quote(f.name)},"type":${quote(f.dataType.simpleString)}}""")
      val histRows = st.history.map(_.count()).getOrElse(0L)
      val curRows = st.currentSnapshot.map(_.count().toString).getOrElse("null")
      println(s"""{"attribute_store":${quote(name)},"columns":${
        cols.mkString("[", ",", "]")},"history_rows":$histRows,""" +
        s""""current_rows":$curRows}""")

    // materialize-curr-ptr [name]: one store, or every store under the
    // base when no name is given (attribute_store.py:308-335);
    // --incremental folds only rows past the snapshot high-water mark
    case "attribute-store" :: "materialize-curr-ptr" :: base :: rest =>
      val s = spark()
      val flags = rest.filter(_.startsWith("--")).toSet
      val fs = graft.core.HadoopFs.forPath(s, base)
      val names = rest.filterNot(_.startsWith("--")) match {
        case Nil =>
          val p = new org.apache.hadoop.fs.Path(s"$base/attribute")
          if (!fs.exists(p)) Seq.empty
          else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
            .sorted.toSeq
        case xs => xs
      }
      val results = names.map { n =>
        val st = new graft.storage.AttributeStore(s, s"$base/attribute/$n")
        val rows =
          if (flags.contains("--incremental")) st.materializeCurrentIncremental()
          else st.materializeCurrent()
        s"""${quote(n)}:$rows"""
      }
      println(results.mkString("{", ",", "}"))

    case "attribute-store" :: "compact" :: base :: name :: Nil =>
      val st = new graft.storage.AttributeStore(
        spark(), s"$base/attribute/$name")
      println(s"""{"attribute_store":${quote(name)},"compacted_rows":${
        st.materializeCompacted()}}""")

    case "notification-store" :: "create" :: base :: yamlPath :: Nil =>
      val stem = java.nio.file.Paths.get(yamlPath).getFileName.toString
        .stripSuffix(".yaml")
      val defn = InstanceModel.parseNotificationStore(
        java.nio.file.Files.readString(java.nio.file.Paths.get(yamlPath)))
      graft.storage.NotificationStore.create(
        s"$base/notification/$stem", defn.attributes,
        spark().sparkContext.hadoopConfiguration)
      println(s"""{"notification_store":${quote(stem)},"attributes":${defn.attributes.length}}""")

    // `minerva notification-store delete` (commands/notification_store.py:
    // 88-115): drop the store wholesale — declaration + rows.
    case "notification-store" :: "delete" :: base :: name :: Nil =>
      val fs = graft.core.HadoopFs.forPath(spark(), base)
      val deleted = fs.delete(
        new org.apache.hadoop.fs.Path(s"$base/notification/$name"), true)
      println(s"""{"notification_store":${quote(name)},"deleted":$deleted}""")

    // `minerva generate-sample-data` (commands/generate_sample_data.py):
    // render a definition's per-interval template to CSV files WITHOUT
    // loading them — the inspect-before-initialize path.
    case "generate-sample-data" :: instanceDir :: name :: outDir :: rest =>
      val intervals = rest.collectFirst {
        case a if a.startsWith("--interval-count=") =>
          a.stripPrefix("--interval-count=").toIntOption.getOrElse {
            System.err.println(s"invalid --interval-count: $a"); exit(2); 0
          }
      }.getOrElse(30)
      val now = rest.collectFirst {
        case a if a.startsWith("--now=") => a.stripPrefix("--now=").toLong
      }.getOrElse(System.currentTimeMillis() / 1000)
      InstanceModel.loadSampleDataDefs(instanceDir).find(_.name == name) match {
        case None =>
          System.err.println(
            s"no sample-data definition named '$name' in $instanceDir")
          exit(2)
        case Some(ds) =>
          val template = s"$instanceDir/sample-data/${ds.name}/sample.csv"
          if (!java.nio.file.Files.exists(java.nio.file.Paths.get(template))) {
            System.err.println(s"no template at $template")
            exit(2)
          }
          val zone = java.time.ZoneId.of("UTC")
          var t = ds.granularity.truncate(
            java.time.Instant.ofEpochSecond(now), zone)
          val tss = (1 to intervals).map { _ =>
            val v = t.getEpochSecond; t = ds.granularity.prev(t, zone); v
          }.reverse
          graft.sources.SampleDataGen.generate(template, outDir, tss)
          println(s"""{"generated_files":${tss.length},"out":"$outDir"}""")
      }

    // Instance skeleton (commands/quick_start.py): a minimal COMPLETE
    // bundle — run `initialize --load-sample-data <dir>` on it next.
    case "quick-start" :: dir :: rest =>
      val name = rest match {
        case "--instance-name" :: n :: Nil => n
        case Nil => "default"
        case other => sys.error(s"unexpected arguments: ${other.mkString(" ")}")
      }
      val written = QuickStart.write(dir, name)
      println(s"""{"skeleton":"$dir","instance":"$name","files":${written.length}}""")

    // `minerva structure load` (commands/structure.py:24-32 — a stub in
    // the reference; graft's contract: apply a dumped structure document
    // to a store base, idempotently). Trend-store parts reconcile through
    // TrendMigration.changePart (fresh sidecar when absent, add/alter/
    // remove when present — non-upward type changes need --force);
    // attribute stores create their typed sidecar when absent (an
    // existing store's union-merged sidecar is never overwritten);
    // notification stores re-persist their typed declaration (the
    // declaration IS the structure, so an edited dump applies).
    case "structure" :: "load" :: dumpFile :: base :: rest =>
      val force = rest == List("--force")
      if (!force && rest.nonEmpty)
        sys.error(s"unexpected arguments: ${rest.mkString(" ")}")
      val s = spark()
      val inst = InstanceModel.parseStructure(
        java.nio.file.Files.readString(java.nio.file.Paths.get(dumpFile)))
      val ps = new PartStore(s, PartStoreConfig(s"$base/trend", 86400))
      val trendParts = inst.trendStores.flatMap(_.parts).map { p =>
        val r = graft.storage.TrendMigration.changePart(ps, p, force)
        s"""{"name":${quote(p.name)},"added":${jarr(r.added.map(quote))},""" +
          s""""removed":${jarr(r.removed.map(quote))},""" +
          s""""changed":${jarr(r.changed.map(quote))}}"""
      }
      val attrs = inst.attributeStores.map { ad =>
        val path = s"$base/attribute/${ad.dataSource}_${ad.entityType}"
        val created = graft.storage.AttributeStore.create(s, path, ad.attributes)
        s"""{"store":${quote(s"${ad.dataSource}_${ad.entityType}")},"created":$created}"""
      }
      val notifs = inst.notificationStores.map { nd =>
        val name = if (nd.name.nonEmpty) nd.name else nd.dataSource
        graft.storage.NotificationStore.create(
          s"$base/notification/$name", nd.attributes,
          s.sparkContext.hadoopConfiguration)
        s"""{"store":${quote(name)},"attributes":${nd.attributes.length}}"""
      }
      println(
        s"""{"trend_store_parts":${jarr(trendParts)},""" +
          s""""attribute_stores":${jarr(attrs)},""" +
          s""""notification_stores":${jarr(notifs)}}""")

    // `minerva structure dump` (commands/structure.py — a stub in the
    // reference; graft dumps the loaded catalog as one JSON document):
    // stores/parts/trends plus the other definition kinds of the bundle.
    // `structure <dir>` without a verb stays a dump (pre-load spelling).
    case "structure" :: verbOrDir :: dirOrNil
        if (verbOrDir != "dump" && dirOrNil.isEmpty) ||
          (verbOrDir == "dump" && dirOrNil.length == 1) =>
      val instanceDir = if (verbOrDir == "dump") dirOrNil.head else verbOrDir
      val inst = InstanceModel.loadInstance(instanceDir)
      // every kind dumps its FULL definition so parseStructure round-trips
      // the document without loss: stores carry typed columns + aggregation
      // metadata, the other kinds their complete YAML-equivalent fields
      def trendJson(t: graft.model.Trend): String =
        s"""{"name":${quote(t.name)},"data_type":${quote(t.dataType.name)},""" +
          s""""description":${quote(t.description)},""" +
          s""""time_aggregation":${quote(t.timeAggregation)},""" +
          s""""entity_aggregation":${quote(t.entityAggregation)}}"""
      def jscalar(v: Any): String = v match {
        case null => "null"
        case b: java.lang.Boolean => b.toString
        case n: java.lang.Number => n.toString
        case other => quote(String.valueOf(other))
      }
      val trendStores = inst.trendStores.map { st =>
        s"""{"title":${quote(st.title)},"data_source":${quote(st.dataSource)},""" +
          s""""entity_type":${quote(st.entityType)},"granularity":${quote(st.granularity.name)},""" +
          s""""partition_size":${quote(st.partitionSize.name)},"parts":${jarr(st.parts.map { p =>
            s"""{"name":${quote(p.name)},"trends":${jarr(p.trends.map(trendJson))},""" +
              s""""generated_trends":${jarr(p.generatedTrends.map(g =>
                s"""{"name":${quote(g.name)},"data_type":${quote(g.dataType.name)},""" +
                  s""""expression":${quote(g.expression)}}"""))}}"""
          })}}"""
      }
      val attrStores = inst.attributeStores.map(a =>
        s"""{"data_source":${quote(a.dataSource)},"entity_type":${quote(a.entityType)},""" +
          s""""attributes":${jarr(a.attributes.map(x =>
            s"""{"name":${quote(x.name)},"data_type":${quote(x.dataType.name)}}"""))}}""")
      // attributes are typed in the dump — `structure load` re-creates the
      // store's declaration from them, so names alone would lose fidelity
      val notifStores = inst.notificationStores.map(n =>
        s"""{"name":${quote(n.name)},"data_source":${quote(n.dataSource)},""" +
          s""""entity_type":${quote(n.entityType)},""" +
          s""""attributes":${jarr(n.attributes.map(x =>
            s"""{"name":${quote(x.name)},"data_type":${quote(x.dataType.name)}}"""))}}""")
      val relations = inst.relations.map(r =>
        s"""{"name":${quote(r.name)},"source_entity_type":${quote(r.sourceEntityType)},""" +
          s""""target_entity_type":${quote(r.targetEntityType)},"query":${quote(r.query)}}""")
      val virtualEntities = inst.virtualEntities.map(v =>
        s"""{"name":${quote(v.name)},"sql":${quote(v.sql)}}""")
      val mats = inst.materializations.map(mz =>
        s"""{"target_trend_store_part":${quote(mz.targetTrendStorePart)},""" +
          s""""enabled":${mz.enabled},""" +
          s""""processing_delay":${quote(mz.processingDelay)},""" +
          s""""stability_delay":${quote(mz.stabilityDelay)},""" +
          s""""reprocessing_period":${quote(mz.reprocessingPeriod)},""" +
          s""""sources":${jarr(mz.sources.map(src =>
            s"""{"trend_store_part":${quote(src.trendStorePart)},""" +
              s""""mapping_function":${quote(src.mappingFunction)}}"""))}""" +
          mz.view.map(v => s""","view":${quote(v)}""").getOrElse("") + "}")
      val triggers = inst.triggers.map { t =>
        s"""{"name":${quote(t.name)},""" +
          s""""kpi_data":${jarr(t.kpiData.map(trendJson))},""" +
          s""""thresholds":${jarr(t.thresholds.map(th =>
            s"""{"name":${quote(th.name)},"data_type":${quote(th.dataType.name)},""" +
              s""""value":${jscalar(th.value)}}"""))},""" +
          s""""condition":${quote(t.condition)},"weight":${quote(t.weight)},""" +
          s""""notification":${quote(t.notification)},"data":${quote(t.data)},""" +
          s""""notification_store":${quote(t.notificationStore)}""" +
          t.granularity.map(g => s""","granularity":${quote(g)}""").getOrElse("") +
          s""","trend_store_links":${jarr(t.trendStoreLinks.map(l =>
            s"""{"part_name":${quote(l.partName)},""" +
              s""""mapping_function":${quote(l.mappingFunction)}}"""))}}"""
      }
      println(
        s"""{"trend_stores":${jarr(trendStores)},""" +
          s""""attribute_stores":${jarr(attrStores)},""" +
          s""""notification_stores":${jarr(notifStores)},""" +
          s""""relations":${jarr(relations)},""" +
          s""""virtual_entities":${jarr(virtualEntities)},""" +
          s""""materializations":${jarr(mats)},""" +
          s""""triggers":${jarr(triggers)}}""")

    case "report" :: base :: part :: rest if rest.isEmpty ||
        (rest.length == 2 && rest.head == "--tag") =>
      val s = spark()
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      ps.readPart(part) match {
        case None => println(s"""{"error":"no such part","part":"$part"}"""); exit(1)
        case Some(df0) =>
          // --tag scopes the report to entities carrying the tag — the
          // reference's tag-scoped selection, via TagDirectory.scope
          // (broadcast left-semi: adds no shuffle to the aggregate)
          val df = rest match {
            case "--tag" :: tag :: Nil =>
              new graft.storage.TagDirectory(s, base).scope(df0, tag, "entity_id")
            case _ => df0
          }
          val tagField = rest match {
            case "--tag" :: tag :: Nil => s""","tag":${quote(tag.toLowerCase)}"""
            case _ => ""
          }
          val r = df.agg(
            count(lit(1)).as("rows"),
            countDistinct(col("entity_id")).as("entities"),
            max(col("timestamp")).as("max_ts")).head()
          println(s"""{"part":"$part","rows":${r.getLong(0)},"entities":${r.getLong(1)},"max_ts":${r.get(2)}$tagField}""")
      }

    // `minerva tag …` / `minerva tag-group …`: admin verbs over the tag
    // directory (reference: directory/tag.py, taggroup.py — tags scope
    // the entity sets reports and aggregations run over; attribute/tag.py
    // maintains the links). Links load from a CSV with a header matching
    // the link schema: (tag_group, tag, entity_id) for entity links,
    // (tag, name) for metadata (attribute-definition) links.
    case "tag" :: "entities" :: base :: csvPath :: Nil =>
      val s = spark()
      val td = new graft.storage.TagDirectory(s, base)
      val n = td.tagEntities(
        s.read.option("header", "true").csv(csvPath)
          .select(col("tag_group"), col("tag"), col("entity_id")))
      println(s"""{"tagged":$n}""")

    case "tag" :: "retag" :: base :: csvPath :: Nil =>
      val s = spark()
      val td = new graft.storage.TagDirectory(s, base)
      val n = td.retagComplementary(
        s.read.option("header", "true").csv(csvPath)
          .select(col("tag_group"), col("tag"), col("entity_id")))
      println(s"""{"retagged":$n}""")

    case "tag" :: "flush" :: base :: tag :: Nil =>
      new graft.storage.TagDirectory(spark(), base).flushTag(tag)
      println(s"""{"tag":${quote(tag.toLowerCase)},"flushed":true}""")

    case "tag" :: "list" :: base :: Nil =>
      val td = new graft.storage.TagDirectory(spark(), base)
      // directory-scale aggregate: one row per (group, tag) with its size
      val rows = td.links.groupBy("tag_group", "tag")
        .agg(count(lit(1)).as("n"))
        .orderBy("tag_group", "tag").collect()
      println(rows.map(r =>
          s"""{"tag_group":${quote(r.getString(0))},"tag":${quote(r.getString(1))},"entities":${r.getLong(2)}}""")
        .mkString("[", ",", "]"))

    case "tag" :: "name-add" :: base :: csvPath :: Nil =>
      val s = spark()
      val td = new graft.storage.TagDirectory(s, base)
      val n = td.tagNames(s.read.option("header", "true").csv(csvPath)
        .select(col("tag"), col("name")))
      println(s"""{"tagged_names":$n}""")

    case "tag" :: "name-flush" :: base :: tag :: Nil =>
      new graft.storage.TagDirectory(spark(), base).flushNameTag(tag)
      println(s"""{"tag":${quote(tag.toLowerCase)},"flushed":true}""")

    case "tag" :: "name-list" :: base :: rest if rest.length <= 1 =>
      val td = new graft.storage.TagDirectory(spark(), base)
      rest match {
        case tag :: Nil =>
          println(td.namesWithTag(tag).map(quote).mkString("[", ",", "]"))
        case _ =>
          val rows = td.nameLinks.orderBy("tag", "name").collect()
          println(rows.map(r =>
              s"""{"tag":${quote(r.getString(0))},"name":${quote(r.getString(1))}}""")
            .mkString("[", ",", "]"))
      }

    // `minerva trigger create|delete|list|enable|disable|execute|run-all`
    // (commands/trigger.py:31-284): installed-trigger registry under
    // `<base>/trigger/` with an `.enabled` marker per trigger. `execute`
    // runs one installed trigger explicitly; `run-all` runs every ENABLED
    // one — the enabled flag gates scheduled execution exactly as the
    // reference's timer-driven runs do.
    case "trigger" :: "create" :: base :: yamlPath :: Nil =>
      val text = java.nio.file.Files.readString(java.nio.file.Paths.get(yamlPath))
      val t = InstanceModel.parseTrigger(text) // validate before installing
      val dir = java.nio.file.Paths.get(base, "trigger")
      java.nio.file.Files.createDirectories(dir)
      val slug = triggerSlug(t.name)
      val slugFile = dir.resolve(s"$slug.yaml")
      // slugs flatten slashes: refuse to overwrite a DIFFERENT trigger
      // that happens to share the slug (re-creating the same one is fine)
      if (java.nio.file.Files.exists(slugFile)) {
        val existing = InstanceModel.parseTrigger(
          java.nio.file.Files.readString(slugFile)).name
        if (existing != t.name) {
          System.err.println(s"trigger slug '$slug' already holds " +
            s"'$existing' — delete it first or rename '${t.name}'")
          exit(1)
        }
      }
      java.nio.file.Files.writeString(slugFile, text)
      java.nio.file.Files.writeString(dir.resolve(s"$slug.enabled"), "true")
      println(s"""{"trigger":${quote(t.name)},"created":true,"enabled":true}""")

    // `minerva trigger update-weight|update-kpi-function|update-data-function`
    // (commands/trigger.py:124-253): load a NEW definition YAML and patch
    // only that aspect of the INSTALLED trigger (matched by name) in
    // place. Everything else — including the `.enabled` sidecar — is
    // preserved, so an operator can tune a live trigger without
    // delete + re-create.
    case "trigger" :: action :: base :: yamlPath :: Nil
        if action == "update-weight" || action == "update-kpi-function" ||
          action == "update-data-function" =>
      val newDef = InstanceModel.parseTrigger(
        java.nio.file.Files.readString(java.nio.file.Paths.get(yamlPath)))
      val dir = java.nio.file.Paths.get(base, "trigger")
      val slugFile = dir.resolve(s"${triggerSlug(newDef.name)}.yaml")
      if (!java.nio.file.Files.exists(slugFile)) {
        println(s"""{"error":"no such trigger","trigger":${quote(newDef.name)}}""")
        exit(1)
      }
      val installed = InstanceModel.parseTrigger(
        java.nio.file.Files.readString(slugFile))
      if (installed.name != newDef.name) {
        System.err.println(s"trigger slug holds '${installed.name}', " +
          s"not '${newDef.name}' — refusing to patch a different trigger")
        exit(1)
      }
      val patched = action match {
        case "update-weight" => installed.copy(weight = newDef.weight)
        case "update-kpi-function" => installed.copy(
          kpiData = newDef.kpiData, granularity = newDef.granularity,
          trendStoreLinks = newDef.trendStoreLinks)
        case _ => installed.copy(data = newDef.data)
      }
      java.nio.file.Files.writeString(slugFile,
        InstanceModel.renderTrigger(patched))
      val enabled = java.nio.file.Files.exists(
        dir.resolve(s"${triggerSlug(newDef.name)}.enabled"))
      println(s"""{"trigger":${quote(newDef.name)},"updated":${
        quote(action.stripPrefix("update-"))},"enabled":$enabled}""")

    case "trigger" :: "delete" :: base :: name :: Nil =>
      val dir = java.nio.file.Paths.get(base, "trigger")
      val existed = java.nio.file.Files.deleteIfExists(
        dir.resolve(s"${triggerSlug(name)}.yaml"))
      java.nio.file.Files.deleteIfExists(dir.resolve(s"${triggerSlug(name)}.enabled"))
      println(s"""{"trigger":${quote(name)},"deleted":$existed}""")

    case "trigger" :: "list" :: base :: Nil =>
      val dir = java.nio.file.Paths.get(base, "trigger")
      val names =
        if (!java.nio.file.Files.isDirectory(dir)) Seq.empty[String]
        else dir.toFile.list().toSeq.filter(_.endsWith(".yaml")).sorted
      println(names.map { f =>
        val slug = f.stripSuffix(".yaml")
        val t = InstanceModel.parseTrigger(
          java.nio.file.Files.readString(dir.resolve(f)))
        val en = java.nio.file.Files.exists(dir.resolve(s"$slug.enabled"))
        // granularity in the listing mirrors the reference's
        // `SELECT id, name, granularity, enabled` (trigger.py:253-266)
        s"""{"name":${quote(t.name)},"enabled":$en,"granularity":${
          t.granularity.map(quote).getOrElse("null")}}"""
      }.mkString("[", ",", "]"))

    case "trigger" :: action :: base :: name :: Nil
        if action == "enable" || action == "disable" =>
      val dir = java.nio.file.Paths.get(base, "trigger")
      val slug = triggerSlug(name)
      if (!java.nio.file.Files.exists(dir.resolve(s"$slug.yaml"))) {
        println(s"""{"error":"no such trigger","trigger":${quote(name)}}""")
        exit(1)
      }
      if (action == "enable")
        java.nio.file.Files.writeString(dir.resolve(s"$slug.enabled"), "true")
      else java.nio.file.Files.deleteIfExists(dir.resolve(s"$slug.enabled"))
      println(s"""{"trigger":${quote(name)},"enabled":${action == "enable"}}""")

    case "trigger" :: "execute" :: base :: name :: part :: outDir :: Nil =>
      val yaml = java.nio.file.Paths.get(base, "trigger",
        s"${triggerSlug(name)}.yaml")
      if (!java.nio.file.Files.exists(yaml)) {
        println(s"""{"error":"no such trigger","trigger":${quote(name)}}""")
        exit(1)
      }
      run(List("trigger", s"$base/trend", part, yaml.toString, outDir))

    case "trigger" :: "run-all" :: base :: part :: outDir :: Nil =>
      val s = spark()
      val dir = java.nio.file.Paths.get(base, "trigger")
      val enabled =
        if (!java.nio.file.Files.isDirectory(dir)) Seq.empty[String]
        else dir.toFile.list().toSeq.filter(_.endsWith(".yaml")).sorted
          .map(_.stripSuffix(".yaml"))
          .filter(s0 => java.nio.file.Files.exists(dir.resolve(s"$s0.enabled")))
      val ps = new PartStore(s, PartStoreConfig(s"$base/trend", 86400))
      val kpi = ps.readPart(part).getOrElse {
        println(s"""{"error":"no such part","part":"$part"}"""); exit(1); null
      }
      val counts = enabled.map { slug =>
        val t = InstanceModel.parseTrigger(java.nio.file.Files.readString(
          dir.resolve(s"$slug.yaml")))
        // persist so the write and the reported count share ONE execution
        // of the notification pipeline (and the count reflects what was
        // actually written, not a recomputation)
        val out = TriggerOps.createNotifications(kpi, InstanceInit.triggerRule(t))
          .persist()
        try {
          ParquetFiles.write(out, outDir, SaveMode.Append)
          s"""${quote(t.name)}:${out.count()}"""
        } finally out.unpersist()
      }
      println(counts.mkString("{", ",", "}"))

    // `minerva relation materialize|list` (commands/relation.py:63-133):
    // (re)materialize instance relation queries into edge sets.
    case "relation" :: "materialize" :: instanceDir :: base :: rest =>
      val s = spark()
      val inst = InstanceModel.loadInstance(instanceDir)
      val dir = new graft.storage.EntityDirectory(s, s"$base/entity")
      val rels = rest match {
        case Nil => inst.relations
        case names => inst.relations.filter(r => names.contains(r.name))
      }
      val counts = rels.map(r => r.name ->
        InstanceInit.materializeRelation(s, r, dir, s"$base/relation"))
      println(counts.map { case (n, c) => s"${quote(n)}:$c" }
        .mkString("{", ",", "}"))

    // `minerva virtual-entity materialize` (commands/virtual_entity.py:
    // 30-57): upsert each virtual-entity view's names into the entity
    // directory (ON CONFLICT DO NOTHING = insert-missing).
    case "virtual-entity" :: "materialize" :: instanceDir :: base :: Nil =>
      val s = spark()
      val inst = InstanceModel.loadInstance(instanceDir)
      val dir = new graft.storage.EntityDirectory(s, s"$base/entity")
      val counts = inst.virtualEntities.map(ve =>
        ve.name -> InstanceInit.materializeVirtualEntity(s, ve, dir))
      println(counts.map { case (n, c) => s"${quote(n)}:$c" }
        .mkString("{", ",", "}"))

    case "relation" :: "list" :: base :: Nil =>
      val s = spark()
      val fs = graft.core.HadoopFs.forPath(s, base)
      val p = new org.apache.hadoop.fs.Path(s"$base/relation")
      val names =
        if (!fs.exists(p)) Seq.empty
        else fs.listStatus(p).filter(_.isDirectory).map(_.getPath.getName)
          .sorted.toSeq
      println(names.map(quote).mkString("[", ",", "]"))

    // `minerva relation create|remove` (commands/relation.py:22-61,
    // 133-160): install a relation definition into the instance /
    // remove it — and, for remove, drop the materialized edge set too
    // (the reference's DROP TABLE relation."<name>").
    case "relation" :: "create" :: instanceDir :: yamlPath :: Nil =>
      val text = java.nio.file.Files.readString(
        java.nio.file.Paths.get(yamlPath))
      val r = InstanceModel.parseRelation(text) // validate before install
      // file named by the RAW relation name (`router->v-region.yaml`) —
      // the convention instance bundles already use; the loader globs
      // relation/*.yaml so the name only needs to be path-safe
      if (r.name.contains("/") || r.name.contains(" ")) {
        System.err.println(s"relation name '${r.name}' is not path-safe")
        exit(1)
      }
      val dir = java.nio.file.Paths.get(instanceDir, "relation")
      java.nio.file.Files.createDirectories(dir)
      java.nio.file.Files.writeString(dir.resolve(s"${r.name}.yaml"), text)
      println(s"""{"relation":${quote(r.name)},"created":true}""")

    case "relation" :: "remove" :: instanceDir :: base :: name :: Nil =>
      if (name.contains("/")) {
        System.err.println(s"relation name '$name' is not path-safe")
        exit(1)
      }
      // bundles name relation FILES freely (`router-to-v-region.yaml`
      // holding name `router->v-region`) — match by the PARSED name
      val relDir = java.nio.file.Paths.get(instanceDir, "relation")
      val matched =
        if (!java.nio.file.Files.isDirectory(relDir)) None
        else relDir.toFile.list().toSeq.filter(_.endsWith(".yaml")).sorted
          .map(relDir.resolve(_))
          .find(p => InstanceModel.parseRelation(
            java.nio.file.Files.readString(p)).name == name)
      val existed = matched.exists(java.nio.file.Files.deleteIfExists(_))
      val fs = graft.core.HadoopFs.forPath(spark(), base)
      val droppedEdges = fs.delete(
        new org.apache.hadoop.fs.Path(s"$base/relation/$name"), true)
      println(s"""{"relation":${quote(name)},"removed":$existed,""" +
        s""""dropped_edges":$droppedEdges}""")

    case "trigger" :: base :: part :: yamlPath :: outDir :: Nil =>
      val s = spark()
      val t = InstanceModel.parseTrigger(
        java.nio.file.Files.readString(java.nio.file.Paths.get(yamlPath)))
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val kpi = ps.readPart(part).getOrElse {
        println(s"""{"error":"no such part","part":"$part"}"""); exit(1); null
      }
      val rule = InstanceInit.triggerRule(t)
      // persist: one execution shared by the write and the reported count
      val out = TriggerOps.createNotifications(kpi, rule).persist()
      try {
        ParquetFiles.write(out, outDir, SaveMode.Append)
        println(s"""{"rule":${quote(t.name)},"notifications":${out.count()}}""")
      } finally out.unpersist()

    // Retention expiry (reference commands/partition.py remove-old):
    // drops whole pindex partition directories before the cutoff.
    case "expire" :: base :: part :: cutoffSec :: rest =>
      val s = spark()
      val psize = rest.headOption.flatMap(_.toLongOption).getOrElse(86400L)
      val ps = new PartStore(s, PartStoreConfig(base, psize))
      val cutoff = cutoffSec.toLongOption.getOrElse {
        System.err.println(s"invalid cutoff seconds: $cutoffSec")
        exit(2); 0L
      }
      ps.expire(part, cutoff)
      println(s"""{"expired_before":$cutoff,"part":"$part"}""")

    // Small-file compaction (the sibling maintenance verb to expire):
    // bin-packs each partition dir's files to ~targetBytes, answer-
    // invisible, through the staged swap + writer lease.
    case "compact" :: base :: part :: rest =>
      val s = spark()
      val targetBytes = rest.headOption.flatMap(_.toLongOption)
        .getOrElse(128L << 20)
      val psize = rest.drop(1).headOption.flatMap(_.toLongOption)
        .getOrElse(86400L)
      val ps = new PartStore(s, PartStoreConfig(base, psize))
      val n = ps.compactPart(part, targetBytes)
      println(s"""{"compacted_partitions":$n,"part":"$part"}""")

    case "materialize" :: base :: srcPart :: dstPart :: granSec :: Nil =>
      val s = spark()
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val src = ps.readPart(srcPart).getOrElse {
        println(s"""{"error":"no such part","part":"$srcPart"}"""); exit(1); null
      }
      val trendCols = src.columns.filterNot(
        Set("entity_id", "timestamp", "modified", "created", "pindex", "job_id"))
      val rolled = TimeAggregation.rollup(src, "entity_id", "timestamp", granSec.toLong,
        TimeAggregation.samples +: trendCols.toSeq.map(c => sum(col(c)).as(c)))
        .withColumn("modified", lit(System.currentTimeMillis() / 1000))
      val n = ps.store(dstPart, rolled)
      println(s"""{"materialized_partitions":$n,"target":"$dstPart"}""")

    // Live-monitor loop (I5, live_monitor.py:40-45): poll → materialize
    // stale chunks → sleep. Bounded iterations so it is operable in batch
    // contexts; pass a large count for a daemon.
    case "live-monitor" :: base :: srcPart :: dstPart :: granSec :: iters :: pollMs :: Nil =>
      val s = spark()
      val ps = new PartStore(s, PartStoreConfig(base, 86400))
      val runner = new MaterializationRunner(s, ps, s"$base/_state")
      (1 to iters.toInt).foreach { i =>
        val src = ps.readPart(srcPart)
        val done = src match {
          case None => Seq.empty
          case Some(df) =>
            val gran = granSec.toLong
            val fp = Materialization.fingerprint(
              Materialization.modifiedState(
                df.withColumn("chunk",
                  (col("timestamp") - pmod(col("timestamp"), lit(gran)))),
                Seq("chunk", "entity_id"), "modified"),
              "chunk", "entity_id", "last_modified")
            val trendCols = df.columns.filterNot(
              Set("entity_id", "timestamp", "modified", "created", "pindex", "job_id"))
            runner.run(MaterializationSpec(dstPart,
              // readPartRange → the chunk window prunes pindex partition
              // directories at scan instead of filtering a full-table read
              chunk => TimeAggregation.rollup(
                ps.readPartRange(srcPart, chunk, chunk + gran).get,
                "entity_id", "timestamp", gran,
                TimeAggregation.samples +: trendCols.toSeq.map(c => sum(col(c)).as(c)))
                .withColumn("modified", lit(System.currentTimeMillis() / 1000)),
              stabilityDelaySec = 0, retentionSec = Long.MaxValue / 4),
              fp, nowSec = System.currentTimeMillis() / 1000)
        }
        println(s"""{"iteration":$i,"materialized":${done.size}}""")
        if (i < iters.toInt) Thread.sleep(pollMs.toLong)
      }

    // `minerva load-sample-data [dataset]` (commands/load_sample_data.py:
    // 26-60): load native sample sets into an ALREADY-initialized base —
    // all sets, or one by name. Same machinery as
    // `initialize --load-sample-data`.
    case "load-sample-data" :: instanceDir :: base :: rest =>
      val s = spark()
      val inst = InstanceModel.loadInstance(instanceDir)
      val now = System.currentTimeMillis() / 1000
      val entityDir = new graft.storage.EntityDirectory(s, s"$base/entity")
      val ps = new PartStore(s, PartStoreConfig(s"$base/trend", 86400))
      val attrStores = inst.attributeStores.map { ad =>
        ad -> new graft.storage.AttributeStore(
          s, s"$base/attribute/${ad.dataSource}_${ad.entityType}")
      }
      val intervals = rest.collectFirst {
        case a if a.startsWith("--interval-count=") =>
          a.stripPrefix("--interval-count=").toIntOption.getOrElse {
            System.err.println(s"invalid --interval-count: $a")
            exit(2); 0
          }
      }.getOrElse(30)
      val dataset = rest.filterNot(_.startsWith("--")).headOption
      val (p, a) = loadSampleDataSets(
        s, instanceDir, inst, entityDir, ps, attrStores, intervals, now, dataset)
      println(s"""{"loaded_partitions":$p,"attribute_rows":$a}""")

    // `minerva initialize [--load-sample-data]` (commands/initialize.py:
    // 70-156): load the instance bundle, create attribute stores, optionally
    // load native sample CSVs, THEN materialize virtual entities and
    // relations (initialize_cmd runs load_sample_data BEFORE
    // initialize_derivatives, so relation queries see sample-created
    // entities), then run one materialization + trigger pass so the
    // instance comes up populated.
    case "initialize" :: instanceDir :: base :: rest =>
      val s = spark()
      val loadSample = rest.contains("--load-sample-data")
      val inst = InstanceModel.loadInstance(instanceDir)
      val now = System.currentTimeMillis() / 1000

      val entityDir = new graft.storage.EntityDirectory(s, s"$base/entity")
      val ps = new PartStore(s, PartStoreConfig(s"$base/trend", 86400))

      // attribute stores (initialize_attribute_stores,
      // commands/initialize.py:157-186): one store per definition
      val attrStores = inst.attributeStores.map { ad =>
        ad -> new graft.storage.AttributeStore(
          s, s"$base/attribute/${ad.dataSource}_${ad.entityType}")
      }

      var loadedParts = 0
      var loadedAttrRows = 0L
      if (loadSample) {
        val intervals = rest.collectFirst {
          case a if a.startsWith("--interval-count=") =>
            a.stripPrefix("--interval-count=").toIntOption.getOrElse {
              System.err.println(s"invalid --interval-count: $a")
              exit(2); 0
            }
        }.getOrElse(30) // reference default (load_sample_data.py:36)
        val (p, a) = loadSampleDataSets(
          s, instanceDir, inst, entityDir, ps, attrStores, intervals, now, None)
        loadedParts += p; loadedAttrRows += a
      }

      // derivatives AFTER sample data (initialize_cmd ordering) so relation
      // queries over entity_<type> views see sample-created entities
      val veCounts = InstanceInit.materializeVirtualEntities(s, inst, entityDir)
      val relCounts = InstanceInit.materializeRelations(
        s, inst, entityDir, s"$base/relation")

      // curr-ptr materialization for populated attribute stores
      val attrCurrent = attrStores.map { case (ad, store) =>
        s"${ad.dataSource}_${ad.entityType}" -> store.materializeCurrent()
      }.toMap

      // view-defined trend materializations (materialization/*.yaml `view:`)
      var materialized = 0
      inst.materializations.filter(_.enabled).foreach { m =>
        materialized += InstanceInit.runViewMaterialization(s, m, ps, now)
      }
      inst.aggregations.foreach { ad =>
        ad.timeAggregation.foreach { ta =>
          inst.trendStores.find(st =>
              st.parts.exists(p => ta.parts.exists(_.source == p.name)))
            .foreach { src =>
              val compiled = AggregationCompiler.compileTimeAggregation(src, ta)
              compiled.units.foreach { u =>
                ps.readPart(u.sourcePart).foreach { df =>
                  materialized += ps.store(u.targetPart,
                    u.compute(df).withColumn("modified", lit(now)))
                }
              }
            }
        }
        ad.entityAggregation.foreach { ea =>
          inst.trendStores.find(st =>
              st.parts.exists(p => ea.parts.exists(_.source == p.name)))
            .foreach { src =>
              val rel = InstanceInit.readRelation(s, s"$base/relation", ea.relation)
              val compiled = AggregationCompiler.compileEntityAggregation(src, ea, rel)
              compiled.units.foreach { u =>
                ps.readPart(u.sourcePart).foreach { df =>
                  materialized += ps.store(u.targetPart,
                    u.compute(df).withColumn("modified", lit(now)))
                }
              }
            }
        }
      }

      // one trigger pass into (typed) notification stores
      var notifications = 0L
      inst.triggers.foreach { t =>
        val partName = t.trendStoreLinks.headOption.map(_.partName)
          .orElse(inst.trendStores.flatMap(_.parts)
            .find(p => t.kpiData.forall(k => p.trends.exists(_.name == k.name)))
            .map(_.name))
        partName.flatMap(ps.readPart).foreach { kpi =>
          val rule = InstanceInit.triggerRule(t)
          val out = TriggerOps.createNotifications(kpi, rule)
          val storeName =
            if (t.notificationStore.nonEmpty) t.notificationStore else t.name
          // resolve by definition-file name first, data_source as fallback
          // (a store file named differently from its data_source must not
          // silently lose its typed validation)
          val storeDef = inst.notificationStores.find(_.name == storeName)
            .orElse(inst.notificationStores.find(_.dataSource == storeName))
          if (storeDef.isEmpty && inst.notificationStores.nonEmpty)
            System.err.println(
              s"WARN: trigger '${t.name}' writes to notification store " +
                s"'$storeName' but no notification/*.yaml defines it " +
                "(by file name or data_source) — notifications will be " +
                "stored untyped")
          val attrs = storeDef.map(_.attributes).getOrElse(Seq.empty)
          val ns = new graft.storage.NotificationStore(
            s, s"$base/notification/$storeName", attrs)
          ns.persistDeclaration() // later writers get the types sans bundle
          ns.store(out, now)
          notifications += out.count()
        }
      }

      def jmap(m: Map[String, Long]): String =
        m.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
      println(s"""{"virtual_entities":${jmap(veCounts)},"relations":${jmap(relCounts)},""" +
        s""""loaded_partitions":$loadedParts,"loaded_attribute_rows":$loadedAttrRows,""" +
        s""""attribute_current":${jmap(attrCurrent)},""" +
        s""""materialized_partitions":$materialized,"notifications":$notifications}""")

    case other =>
      System.err.println(
        s"""unknown command: ${other.mkString(" ")}
           |usage:
           |  initialize <instanceDir> <storeBase> [--load-sample-data]
           |  load-data <csv> <identifierCol> <timestampCol> <storeBase> <part> [partitionSizeSec]
           |  harvest <plugin> <path> <storeBase> <part> [partitionSizeSec]
           |  load-attributes <csv> <identifierCol> <timestampCol> <storeBase> <attrStore>
           |  harvest-attributes <plugin> <path> <storeBase> <attrStore>
           |  aggregation-compile <instanceDir> <aggregationYaml>
           |  aggregation-compile-all <instanceDir>
           |  aggregation-generate <instanceDir> [storeTitle...]
           |  trend-materialization create|update <instanceDir> <defYaml>
           |  trend-materialization drop <instanceDir> <name>
           |  trend-materialization list <instanceDir>
           |  trend-store check-config <instanceDir>
           |  trend-store deduce <csv> <idCol> <tsCol> [dataSource entityType granularity]
           |  trend-store add-trends|remove-trends|alter-trends|change [--force] [--purge] <storeBase> <defYaml>
           |  trend-store create|add-parts|delete <storeBase> <defYaml>
           |  trend-store list <storeBase>
           |  trend-store process-modified-log <storeBase>
           |  trend-store list-config <instanceDir>
           |  trend-store show <storeBase> <defYaml>
           |  attribute-store create <storeBase> <defYaml>
           |  attribute-store delete|show|compact <storeBase> <name>
           |  attribute-store list <storeBase>
           |  attribute-store materialize-curr-ptr <storeBase> [name] [--incremental]
           |  quick-start <dir> [--instance-name <name>]
           |  structure [dump] <instanceDir>
           |  structure load <dumpFile> <storeBase> [--force]
           |  generate-sample-data <instanceDir> <name> <outDir> [--interval-count=N] [--now=sec]
           |  entity-type create|delete|list <storeBase> [name]
           |  data-source create|delete|list <storeBase> [name]
           |  alias create|delete|list <storeBase> [name]
           |  notification-store create <storeBase> <defYaml>
           |  notification-store delete <storeBase> <name>
           |  report <storeBase> <part> [--tag <tag>]
           |  tag entities|retag <storeBase> <links.csv>   (header: tag_group,tag,entity_id)
           |  tag flush <storeBase> <tag>
           |  tag list <storeBase>
           |  tag name-add <storeBase> <links.csv>         (header: tag,name)
           |  tag name-flush <storeBase> <tag>
           |  tag name-list <storeBase> [tag]
           |  trigger <trendBase> <part> <triggerYaml> <outDir>
           |  trigger create <storeBase> <triggerYaml>
           |  trigger delete|enable|disable <storeBase> <name>
           |  trigger update-weight|update-kpi-function|update-data-function <storeBase> <triggerYaml>
           |  trigger list <storeBase>
           |  trigger execute <storeBase> <name> <part> <outDir>
           |  trigger run-all <storeBase> <part> <outDir>
           |  relation materialize <instanceDir> <storeBase> [name...]
           |  relation create <instanceDir> <defYaml>
           |  relation remove <instanceDir> <storeBase> <name>
           |  relation list <storeBase>
           |  load-sample-data <instanceDir> <storeBase> [dataset] [--interval-count=N]
           |  materialize <storeBase> <sourcePart> <targetPart> <granSec>
           |  expire <storeBase> <part> <cutoffSec> [partitionSizeSec]
           |  compact <storeBase> <part> [targetBytes] [partitionSizeSec]
           |  live-monitor <storeBase> <sourcePart> <targetPart> <granSec> <iterations> <pollMs>""".stripMargin)
      exit(2)
  }
}
