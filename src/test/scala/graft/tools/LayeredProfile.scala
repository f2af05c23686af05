package graft.tools

import org.apache.spark.sql.functions._

/** Per-phase wall-clock profile of the q234 layered-incremental-graph
  * pipeline (the most expensive gate at r17: 15.6 s judge-quiet) —
  * replicates the gate phase by phase through the public API and times
  * each, and runs the FLAT q194 pipeline on the same data as the control:
  * the layered−flat delta isolates what the coarse layer + HNSW descent
  * actually cost vs the shared store/search machinery.
  * `sbt "Test/runMain graft.tools.LayeredProfile [sfDir]"`. */
object LayeredProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    import graft.functions.Similarity
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    e.count() // warm the parquet read
    val hv = conv(substring(md5(concat(lit("gidx:"),
      col("vec_id").cast("string"))), 1, 8), 16, 10).cast("long") % 2L
    def t[A](name: String)(body: => A): A = {
      val t0 = System.nanoTime()
      val r = body
      println(f"  $name%-40s ${(System.nanoTime() - t0) / 1e9}%7.2f s")
      r
    }
    for (round <- 1 to 2) {
      println(s"== round $round ==")
      // ---- layered (q234) ----
      locally {
        val work = java.nio.file.Files.createTempDirectory("graft_lp_l_").toString
        val es = new graft.storage.PartStore(spark,
          graft.storage.PartStoreConfig(s"$work/e", 500,
            keyCols = Seq("entity_id", "dst")))
        val vs = new graft.storage.PartStore(spark,
          graft.storage.PartStoreConfig(s"$work/v", 500,
            keyCols = Seq("entity_id")))
        def insert(b: org.apache.spark.sql.DataFrame): Unit =
          Similarity.graphInsertBatchLayered(es, vs, "g", b, "vec_id",
            "embedding", k = 4, beam = 8, hops = 2, entries = 4,
            seedBits = 4, denom = 16)
        t("layered insert batch 0 (no state)")(insert(e.filter(hv === 0L)))
        t("layered insert batch 1 (vs state)")(insert(e.filter(hv === 1L)))
        val (g0, g1, v) = t("read layered index") {
          val r = Similarity.readGraphIndexLayered(es, vs, "g")
          (r._1.localCheckpoint(), r._2.localCheckpoint(), r._3.localCheckpoint())
        }
        t("layered search (q161 walk)") {
          Similarity.graphSearchLayered(e.filter(col("vec_id") % 50 === 0),
            g0, g1,
            v.select(col("entity_id").as("vec_id"), col("vec").as("embedding")),
            "vec_id", "embedding", k = 4, beam = 8, hops = 2, entries = 4,
            beam1 = 4, hops1 = 2, seedBits = 4).count()
        }
      }
      // ---- flat control (q194 without its own search schedule) ----
      locally {
        val work = java.nio.file.Files.createTempDirectory("graft_lp_f_").toString
        val es = new graft.storage.PartStore(spark,
          graft.storage.PartStoreConfig(s"$work/e", 500,
            keyCols = Seq("entity_id", "dst")))
        val vs = new graft.storage.PartStore(spark,
          graft.storage.PartStoreConfig(s"$work/v", 500,
            keyCols = Seq("entity_id")))
        def insert(b: org.apache.spark.sql.DataFrame): Unit =
          Similarity.graphInsertBatch(es, vs, "g", b, "vec_id", "embedding",
            k = 4, beam = 8, hops = 2, entries = 4, seedBits = 4)
        t("flat insert batch 0 (no state)")(insert(e.filter(hv === 0L)))
        t("flat insert batch 1 (vs state)")(insert(e.filter(hv === 1L)))
        val (g, v) = t("read flat index") {
          val r = Similarity.readGraphIndex(es, vs, "g")
          (r._1.localCheckpoint(), r._2.localCheckpoint())
        }
        t("flat search") {
          Similarity.graphSearch(e.filter(col("vec_id") % 50 === 0), g,
            v.select(col("entity_id").as("vec_id"), col("vec").as("embedding")),
            "vec_id", "embedding", k = 4, beam = 8, hops = 2, entries = 4,
            seedBits = 4).count()
        }
      }
      // ---- batch-1 component breakdown (state = batch 0 layered):
      // replays the pieces of graphInsertBatchLayered(b1) standalone;
      // full-insert minus components ≈ descent seeding + beamWalk +
      // the three store cycles (IncrStoreProfile: ~0.7-0.8 s each) ----
      locally {
        val work = java.nio.file.Files.createTempDirectory("graft_lp_c_").toString
        val es = new graft.storage.PartStore(spark,
          graft.storage.PartStoreConfig(s"$work/e", 500,
            keyCols = Seq("entity_id", "dst")))
        val vs = new graft.storage.PartStore(spark,
          graft.storage.PartStoreConfig(s"$work/v", 500,
            keyCols = Seq("entity_id")))
        def insert(b: org.apache.spark.sql.DataFrame): Unit =
          Similarity.graphInsertBatchLayered(es, vs, "g", b, "vec_id",
            "embedding", k = 4, beam = 8, hops = 2, entries = 4,
            seedBits = 4, denom = 16)
        insert(e.filter(hv === 0L))
        val b1 = e.filter(hv === 1L)
        val b1c = b1.filter(Similarity.coarseLevelPred(col("vec_id"), 16))
        t("c1 nnDescent(b1) [flat internal edges]")(
          Similarity.nnDescent(b1, "vec_id", "embedding",
            k = 4, iterations = 1, initBits = 4).count())
        t("c2 nnDescent(b1 coarse) [coarse internal]")(
          Similarity.nnDescent(b1c, "vec_id", "embedding",
            k = 4, iterations = 1, initBits = 4).count())
        val (_, g1, v) = Similarity.readGraphIndexLayered(es, vs, "g")
        val vC = v.filter(Similarity.coarseLevelPred(col("entity_id"), 16))
          .select(col("entity_id").as("vec_id"), col("vec").as("embedding"))
        t("c3 graphSearch(b1c vs coarse state) [coarse cross]")(
          Similarity.graphSearch(b1c, g1, vC, "vec_id", "embedding",
            k = 4, beam = 8, hops = 2, entries = 4, seedBits = 4).count())
        t("c4 FULL layered insert(b1)")(insert(b1))
      }
    }
    spark.stop()
  }
}
