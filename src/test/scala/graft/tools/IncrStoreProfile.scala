package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Per-phase wall-clock profile of the q332 incremental-keeper pipeline —
  * replicates winnowDupIncremental/incrementalKeeperTail phase by phase
  * (public API only) and times each, to find where the gate's cost lives
  * before optimizing it. `sbt "Test/runMain graft.tools.IncrStoreProfile
  * [sfDir]"`. */
object IncrStoreProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Dedup
    val d = graft.Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val splitCol = pmod(conv(substring(md5(concat(lit("wnb:"),
      col("doc_id").cast("string"))), 1, 8), 16, 10).cast("long"), lit(2L))
    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"  $name%-36s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    d.count() // warm the parquet read
    val (k, minShared, maxDocFreq, sketchK, threshold) = (4, 2, 50, 256, 0.25)
    for (round <- 1 to 2) {
      println(s"== round $round ==")
      val work = java.nio.file.Files.createTempDirectory("graft_isp_").toString
      val fps = new graft.storage.PartStore(spark,
        graft.storage.PartStoreConfig(s"$work/f", 1L << 16,
          keyCols = Seq("h", "entity_id")))
      val ss = new graft.storage.PartStore(spark,
        graft.storage.PartStoreConfig(s"$work/s", 1L << 55,
          keyCols = Seq("entity_id")))
      val ps = new graft.storage.PartStore(spark,
        graft.storage.PartStoreConfig(s"$work/p", 1L << 55,
          keyCols = Seq("entity_id")))
      for (bi <- 0 to 1) {
        println(s" -- batch $bi --")
        val batch = d.filter(splitCol === lit(bi.toLong))
        // phase-1 substeps (replicates winnowIncremental)
        val fpsBatch = t("1a fingerprints (checkpoint)") {
          Dedup.winnowFingerprints(batch, "doc_id", "text", k, 5)
            .select(col("h"), col("doc_id").as("entity_id"))
            .distinct()
            .withColumn("timestamp", pmod(col("h"), lit(1L << 20)))
            .withColumn("modified", lit(1L))
            .localCheckpoint()
        }
        t("1b fp store cycle")(fps.store("fp", fpsBatch))
        val cand = t("1c probe (winnowPairs on state)") {
          val psz = fps.config.partitionSizeSeconds
          val pidx = fpsBatch.select(
            ((col("timestamp") - pmod(col("timestamp"), lit(psz))) / psz)
              .cast("long").as("p")).distinct()
          val state = fps.readPart("fp")
            .getOrElse(fpsBatch.limit(0).withColumn("pindex", lit(0L)))
          val pairs = Dedup.winnowPairs(
              state.join(broadcast(pidx), state("pindex") === col("p"))
                .select(col("entity_id").as("doc_id"), col("h")),
              minShared, maxDocFreq)
            .select("id1", "id2")
          val newIds = fpsBatch.select(col("entity_id").as("nid")).distinct()
          pairs.join(newIds, pairs("id1") === col("nid"), "left_semi")
            .union(pairs.join(newIds, pairs("id2") === col("nid"), "left_semi"))
            .distinct()
            .localCheckpoint()
        }
        val units = t("2 units gram-distinct (checkpoint)") {
          batch
            .select(col("doc_id").cast("long").as("doc_id"),
              split(trim(col("text")), "\\s+").as("toks"))
            .filter(size(col("toks")) >= k)
            .select(col("doc_id"),
              explode(sequence(lit(0), size(col("toks")) - k)).as("pos"),
              col("toks"))
            .withColumn("gram", expr(s"slice(toks, pos + 1, $k)"))
            .filter(!array_contains(col("gram"), ""))
            .select(col("doc_id"), concat_ws(" ", col("gram")).as("gram"))
            .distinct()
            .localCheckpoint()
        }
        val sk = t("3 kmv sketches (checkpoint)") {
          Dedup.kmvDocSketches(units, "doc_id", "gram", sketchK)
            .select(col("doc_id").cast("long").as("entity_id"),
              col("doc_id").cast("long").as("timestamp"),
              col("minima"), lit(1L).as("modified"))
            .localCheckpoint()
        }
        t("4 sketch store cycle")(ss.store("sk", sk))
        val candIds = cand.select(col("id1").as("node"))
          .union(cand.select(col("id2").as("node"))).distinct().localCheckpoint()
        def prunedByIds(store: graft.storage.PartStore, part: String,
            ids: DataFrame, emptyLike: DataFrame): DataFrame = {
          val psz = store.config.partitionSizeSeconds
          val pidx = ids.select(
            ((col("node") - pmod(col("node"), lit(psz))) / psz)
              .cast("long").as("p")).distinct()
          val st = store.readPart(part)
            .getOrElse(emptyLike.withColumn("pindex", lit(0L)))
          st.join(broadcast(pidx), st("pindex") === col("p"))
        }
        val verified = t("5 verify (pruned sketch read)") {
          val skPruned = prunedByIds(ss, "sk", candIds,
              sk.select(col("entity_id"), col("minima")).limit(0))
            .select(col("entity_id").as("did"), col("minima"))
          Dedup.containmentEstimate(skPruned, "did", cand, sketchK)
            .filter(col("jaccard_est") >= threshold)
            .select("id1", "id2").localCheckpoint()
        }
        val labels = t("6 union-find walk") {
          val nodes0 = verified.select(col("id1").as("node"))
            .union(verified.select(col("id2").as("node")))
            .union(batch.select(col("doc_id").cast("long").as("node")))
            .distinct().localCheckpoint()
          val emptyPar = nodes0.select(col("node").as("entity_id"),
            col("node").as("parent")).limit(0)
          var lab = nodes0.select(col("node"), col("node").as("root"))
            .localCheckpoint()
          var changed = true
          var iters = 0
          while (changed) {
            iters += 1
            val par = prunedByIds(ps, "par",
                lab.select(col("root").as("node")).distinct(), emptyPar)
              .select(col("entity_id"), col("parent"))
            val next = lab.join(par, lab("root") === par("entity_id"), "left")
              .select(col("node"),
                coalesce(col("parent"), col("root")).as("root2"), col("root"))
              .localCheckpoint()
            changed = next.filter(col("root2") =!= col("root")).head(1).nonEmpty
            lab = next.select(col("node"), col("root2").as("root"))
          }
          println(s"    (iters=$iters)")
          lab
        }
        val nodeKeeper = t("7 components + keeper join") {
          val contracted = verified
            .join(labels.select(col("node").as("id1"), col("root").as("r1")), "id1")
            .join(labels.select(col("node").as("id2"), col("root").as("r2")), "id2")
            .select(col("r1").as("id1"), col("r2").as("id2"))
            .filter(col("id1") =!= col("id2"))
          val roots = labels.select(col("root").as("id")).distinct()
          val comp = Dedup.connectedKeepersStar(roots, "id", contracted)
            .select(col("id").as("root"), col("keeper"))
          labels.join(comp, "root")
            .select(col("node"), col("keeper")).localCheckpoint()
        }
        t("8 parent store cycle") {
          val upserts = nodeKeeper
            .union(nodeKeeper.select(col("keeper").as("node"), col("keeper")))
            .distinct().localCheckpoint()
          ps.store("par", upserts.select(
            col("node").as("entity_id"), col("node").as("timestamp"),
            col("keeper").as("parent"), lit(1L).as("modified")))
        }
        t("9 emit join") {
          batch.select(col("doc_id").cast("long").as("doc_id")).distinct()
            .join(nodeKeeper.withColumnRenamed("node", "doc_id"), "doc_id")
            .localCheckpoint()
        }
      }
    }
    spark.stop()
  }
}
