package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.DataFrame

import graft.functions.Similarity

/** Recall/latency sweep for the ANN retrieval tiers — the measured basis
  * for the nProbe/shortlist guidance in PLANS.md. Brute-force top-5 is
  * ground truth; each tier reports recall@5 and wall seconds at sf0.1.
  *
  * Run: `sbt "Test/runMain graft.tools.AnnRecallProbe [sfDir]"` */
object AnnRecallProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.Tables.load(spark, sfDir, "embeddings")
    val queries = e.filter(col("vec_id") % 100 === 0)
    val cents = Similarity.ivfCentroidsRefined(e, "vec_id", "embedding", 8)
    val cbs = Similarity.pqCodebooksRefined(e, "vec_id", "embedding",
      m = 8, k = 256, dim = 64, sampleN = 8192)
    val codes = Similarity.pqEncodeArray(e, "vec_id", "embedding", cbs)
      .localCheckpoint() // codes computed once; probe times retrieval only

    def pairs(df: DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    def timed[A](f: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = f; (a, (System.nanoTime() - t0) / 1e9)
    }

    val (truth, tBrute) = timed(pairs(
      Similarity.bruteForceTopK(queries, e, "vec_id", "embedding", 5)))
    println(f"brute_force recall=1.000 sec=$tBrute%.2f pairs=${truth.size}")
    for (nProbe <- Seq(1, 2, 4, 8)) {
      val (got, t) = timed(pairs(Similarity.ivfTopK(
        queries, e, "vec_id", "embedding", cents, k = 5, nProbe = nProbe)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"ivf nProbe=$nProbe recall=$rec%.3f sec=$t%.2f")
    }
    for ((nProbe, shortlist) <- Seq((2, 20), (2, 50), (2, 100), (4, 50), (8, 50))) {
      val (got, t) = timed(pairs(Similarity.ivfPqTopK(
        queries, codes, e, "vec_id", "embedding", cents, cbs,
        k = 5, nProbe = nProbe, shortlist = shortlist)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"ivfpq nProbe=$nProbe shortlist=$shortlist recall=$rec%.3f sec=$t%.2f")
    }
    val (adc, tAdc) = timed(pairs(Similarity.adcTopKArray(
      queries, codes, e, "vec_id", "embedding", cbs, k = 5, shortlist = 50)))
    val adcRec = truth.count(adc.contains).toDouble / truth.size
    println(f"adc_fullscan shortlist=50 recall=$adcRec%.3f sec=$tAdc%.2f")
    val fcbs = Similarity.pqCodebooksRefinedFull(e, "vec_id", "embedding",
      m = 8, k = 256, dim = 64)
    val fcodes = Similarity.pqEncodeArray(e, "vec_id", "embedding", fcbs)
      .localCheckpoint()
    val (fadc, tFull) = timed(pairs(Similarity.adcTopKArray(
      queries, fcodes, e, "vec_id", "embedding", fcbs, k = 5, shortlist = 50)))
    val fadcRec = truth.count(fadc.contains).toDouble / truth.size
    println(f"adc_fullscan_fulltrain shortlist=50 recall=$fadcRec%.3f sec=$tFull%.2f")
    val rcbs = Similarity.pqCodebooksResidual(e, "vec_id", "embedding",
      cents, m = 8, k = 256, dim = 64, sampleN = 8192)
    val rindex = Similarity.ivfPqEncodeResidual(
      e, "vec_id", "embedding", cents, rcbs).localCheckpoint()
    for ((nProbe, shortlist) <- Seq((2, 50), (4, 50), (8, 50))) {
      val (got, t) = timed(pairs(Similarity.ivfPqTopKResidual(
        queries, rindex, e, "vec_id", "embedding", "bucket", "pq_code",
        cents, rcbs, k = 5, nProbe = nProbe, shortlist = shortlist)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"ivfpq_residual nProbe=$nProbe shortlist=$shortlist recall=$rec%.3f sec=$t%.2f")
    }
    // SQ8 / BQ / IVF-SQ: the per-dim compression rungs — how much recall
    // does each byte budget buy at matched shortlists?
    val sqp = Similarity.sqParams(e, "embedding", 64)
    val scodes = Similarity.sqEncode(e, "vec_id", "embedding", sqp)
      .localCheckpoint()
    for (shortlist <- Seq(10, 20, 50)) {
      val (got, t) = timed(pairs(Similarity.sqTopK(
        queries, scodes, e, "vec_id", "embedding", sqp, k = 5, shortlist = shortlist)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"sq8_fullscan shortlist=$shortlist recall=$rec%.3f sec=$t%.2f")
    }
    for ((nProbe, shortlist) <- Seq((2, 50), (4, 50))) {
      val (got, t) = timed(pairs(Similarity.ivfSqTopK(
        queries, scodes, e, "vec_id", "embedding", cents, sqp,
        k = 5, nProbe = nProbe, shortlist = shortlist)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"ivfsq nProbe=$nProbe shortlist=$shortlist recall=$rec%.3f sec=$t%.2f")
    }
    val bcodes = Similarity.bqEncode(e, "vec_id", "embedding", 64)
      .localCheckpoint()
    for (shortlist <- Seq(50, 100, 200)) {
      val (got, t) = timed(pairs(Similarity.bqTopK(
        queries, bcodes, e, "vec_id", "embedding", 64, k = 5, shortlist = shortlist)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"bq_fullscan shortlist=$shortlist recall=$rec%.3f sec=$t%.2f")
    }
    // maximin (farthest-point) seeding vs the md5-prefix default, both
    // through one full-corpus Lloyd pass
    val mmSeeds = Similarity.maximinSeeds(e, "vec_id", "embedding", 8)
    val (mmCents, tMm) = timed(Similarity.ivfCentroidsIteratedFull(
      e, "vec_id", "embedding", 8, nIter = 1, seedsOpt = Some(mmSeeds)))
    for (nProbe <- Seq(1, 2)) {
      val (got, t) = timed(pairs(Similarity.ivfTopK(
        queries, e, "vec_id", "embedding", mmCents, k = 5, nProbe = nProbe)))
      val rec = truth.count(got.contains).toDouble / truth.size
      println(f"ivf_maximin nProbe=$nProbe recall=$rec%.3f sec=$t%.2f train_sec=$tMm%.2f")
    }
    // multi-pass distributed Lloyd: does iterating tighten the IVF gate?
    // (movement printed per depth so the convergence trajectory is visible)
    var prev: Seq[(Int, Seq[Float])] = null
    for (nIter <- Seq(1, 2, 4, 8)) {
      val (c, tTrain) = timed(Similarity.ivfCentroidsIteratedFull(
        e, "vec_id", "embedding", 8, nIter = nIter))
      val mv = if (prev == null) Double.NaN else Similarity.centroidMovement(prev, c)
      prev = c
      for (nProbe <- Seq(1, 2)) {
        val (got, t) = timed(pairs(Similarity.ivfTopK(
          queries, e, "vec_id", "embedding", c, k = 5, nProbe = nProbe)))
        val rec = truth.count(got.contains).toDouble / truth.size
        println(f"ivf_lloyd nIter=$nIter nProbe=$nProbe recall=$rec%.3f " +
          f"sec=$t%.2f train_sec=$tTrain%.2f move_from_prev_depth=$mv%.5f")
      }
    }
    // graph tier: NN-Descent build depth vs graph quality (edge recall of
    // the true top-4 graph), then beam-search retrieval recall over each
    for (iters <- Seq(0, 1, 2)) {
      val (g, tBuild) = timed(Similarity.nnDescent(
        e, "vec_id", "embedding", k = 4, iterations = iters, initBits = 4)
        .localCheckpoint())
      val truth4 = pairs(Similarity.bruteForceTopK(
        e, e, "vec_id", "embedding", 4))
      val gp = pairs(g)
      val edgeRec = truth4.count(gp.contains).toDouble / truth4.size
      for ((beam, hops) <- Seq((8, 2), (16, 3))) {
        val (got, t) = timed(pairs(Similarity.graphSearch(
          queries, g, e, "vec_id", "embedding",
          k = 5, beam = beam, hops = hops, entries = 4, seedBits = 4)))
        val rec = truth.count(got.contains).toDouble / truth.size
        println(f"graph iters=$iters edge_recall=$edgeRec%.3f beam=$beam " +
          f"hops=$hops recall=$rec%.3f sec=$t%.2f build_sec=$tBuild%.2f")
      }
    }
    // two-layer (HNSW-shape) vs flat: same layer-0 graph, coarse walk
    // replaces global+bucket seeding — recall per DISTANCE EVALUATION is
    // the figure of merit (evals = scored candidate rows, counted by the
    // stats hook)
    locally {
      val g0 = Similarity.nnDescent(
        e, "vec_id", "embedding", k = 4, iterations = 1, initBits = 4)
        .localCheckpoint()
      val sub = e.join(Similarity.coarseLayerNodes(e, "vec_id", 16)
        .select(col("id").as("vec_id")), Seq("vec_id"), "left_semi")
      val (g1, tG1) = timed(Similarity.nnDescent(
        sub, "vec_id", "embedding", k = 4, iterations = 1, initBits = 4)
        .localCheckpoint())
      for ((beam, hops) <- Seq((8, 2), (8, 1), (16, 3))) {
        val sFlat = new Similarity.SearchStats
        val (gotF, tF) = timed(pairs(Similarity.graphSearch(
          queries, g0, e, "vec_id", "embedding",
          k = 5, beam = beam, hops = hops, entries = 4, seedBits = 4,
          stats = Some(sFlat))))
        val recF = truth.count(gotF.contains).toDouble / truth.size
        val sLay = new Similarity.SearchStats
        val (gotL, tL) = timed(pairs(Similarity.graphSearchLayered(
          queries, g0, g1, e, "vec_id", "embedding",
          k = 5, beam = beam, hops = hops, entries = 4, beam1 = 4, hops1 = 2,
          seedBits = 4, stats = Some(sLay))))
        val recL = truth.count(gotL.contains).toDouble / truth.size
        println(f"graph_flat beam=$beam hops=$hops recall=$recF%.3f " +
          f"evals=${sFlat.evals} sec=$tF%.2f")
        println(f"graph_layered beam=$beam hops=$hops recall=$recL%.3f " +
          f"evals=${sLay.evals} sec=$tL%.2f coarse_build_sec=$tG1%.2f")
      }
    }
    spark.stop()
  }
}
