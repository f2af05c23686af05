package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** ANN path specs: seeded-Gaussian bucketing recall vs the exact baseline,
  * degenerate-bucket capping, and logical-plan self-similarity detection. */
class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val dim = 16

  /** 100 vectors in 5 tight clusters (seeded → deterministic). */
  private lazy val clustered = {
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(5)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    (0 until 100).map { i =>
      val c = centers(i % 5)
      (i.toLong, c.map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("gaussian-bucketed candidates recover most exact top-1 neighbors") {
    val exact = Similarity.bruteForceTopK(clustered, clustered, "vec_id", "embedding", 1)
      .select("query_id", "neighbor_id").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)), math.max(r.getLong(0), r.getLong(1))))
      .toSet
    val bucketed = Similarity.bucketedNeighborsGaussian(
        clustered, "vec_id", "embedding", nBits = 4, dim = dim, seed = 42L, minCos = -1.0)
      .select("id1", "id2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = exact.count(bucketed.contains).toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low (${exact.size} exact pairs)")
    // same seed → same buckets → same result (deterministic re-run)
    val again = Similarity.bucketedNeighborsGaussian(
        clustered, "vec_id", "embedding", nBits = 4, dim = dim, seed = 42L, minCos = -1.0)
      .select("id1", "id2").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(again == bucketed)
  }

  test("nnDescent: descent rounds lift recall over bucket init; deterministic") {
    def recallOf(df: org.apache.spark.sql.DataFrame): Double = {
      val exact = Similarity.bruteForceTopK(clustered, clustered, "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val got = df.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val init = Similarity.nnDescent(clustered, "vec_id", "embedding",
      k = 3, iterations = 0, initBits = 4)
    val refined = Similarity.nnDescent(clustered, "vec_id", "embedding",
      k = 3, iterations = 2, initBits = 4)
    val (r0, r2) = (recallOf(init), recallOf(refined))
    assert(r2 >= r0, s"descent lost recall: $r0 -> $r2")
    assert(r2 >= 0.9, s"2-round NN-Descent recall too low: $r2")
    // deterministic under any partition layout
    val again = Similarity.nnDescent(clustered.repartition(13), "vec_id", "embedding",
      k = 3, iterations = 2, initBits = 4)
      .orderBy("query_id", "rank").collect().toSeq
    assert(again === refined.orderBy("query_id", "rank").collect().toSeq)
  }

  test("nnDescentGrouped per group equals nnDescent run on each group " +
      "alone (the layered-insert fusion's correctness contract)") {
    import org.apache.spark.sql.functions._
    // grp 1 is a SUBSET of grp 0 (exactly the layered insert's coarse
    // slice) — the same ids in both groups must not cross-contaminate
    val flat = clustered.select(col("vec_id").cast("long").as("id"),
      col("embedding").as("vec"))
    val coarse = flat.filter(pmod(col("id"), lit(3)) === 0)
    val tagged = flat.select(lit(0L).as("grp"), col("id"), col("vec"))
      .unionByName(coarse.select(lit(1L).as("grp"), col("id"), col("vec")))
    val grouped = Similarity.nnDescentGrouped(tagged,
      k = 3, iterations = 1, initBits = 4)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id", "rank")
        .as[(Long, Long, Int)].collect().toSet
    val g0 = rows(grouped.filter(col("grp") === 0L))
    val g1 = rows(grouped.filter(col("grp") === 1L))
    val s0 = rows(Similarity.nnDescent(flat, "id", "vec",
      k = 3, iterations = 1, initBits = 4))
    val s1 = rows(Similarity.nnDescent(coarse, "id", "vec",
      k = 3, iterations = 1, initBits = 4))
    assert(g0 === s0)
    assert(g1 === s1)
  }

  test("nnDescent: hop expansion reconnects nodes split across init buckets") {
    // a chain of near-identical vectors whose sign-bits differ on dim 0/1:
    // bucket init splits {0,1} from {2,3}, but 1-2 are mutual neighbors
    // through the shared cluster, so a round of expansion finds cross-pairs
    val base = Array.fill(dim)(0.5f)
    def v(eps0: Float) = { val a = base.clone(); a(0) = a(1) + eps0; a.toSeq }
    val chain = Seq(
      (0L, v(0.10f)), (1L, v(0.05f)), (2L, v(-0.05f)), (3L, v(-0.10f))
    ).toDF("vec_id", "embedding")
    val r1 = Similarity.nnDescent(chain, "vec_id", "embedding",
      k = 2, iterations = 1, initBits = 1)
    // after one round every node must know a neighbor from the OTHER bucket
    val pairs = r1.select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(pairs.exists { case (a, b) => (a <= 1) != (b <= 1) },
      s"no cross-bucket pair after a descent round: $pairs")
  }

  test("graphSearch: hops lift recall toward brute force; deterministic") {
    val g = Similarity.nnDescent(clustered, "vec_id", "embedding",
      k = 4, iterations = 1, initBits = 3)
    val exact = Similarity.bruteForceTopK(clustered, clustered, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recallAt(hops: Int, seedBits: Int): Double = {
      val got = Similarity.graphSearch(clustered, g, clustered, "vec_id", "embedding",
          k = 3, beam = 8, hops = hops, entries = 3, seedBits = seedBits)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val (r0, r3) = (recallAt(0, 3), recallAt(3, 3))
    assert(r3 >= r0, s"beam hops lost recall: $r0 -> $r3")
    assert(r3 >= 0.8, s"3-hop bucket-seeded graph search recall too low: $r3")
    // bucket seeding is what rescues greedy search from far-away basins:
    // global-entry-only search from 3 seeds cannot cover 5 clusters
    assert(r3 > recallAt(3, 0),
      "bucket seeding should beat global-entries-only on clustered data")
    val a = Similarity.graphSearch(clustered.repartition(11), g, clustered,
      "vec_id", "embedding", k = 3, beam = 8, hops = 2, entries = 3, seedBits = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.graphSearch(clustered, g, clustered,
      "vec_id", "embedding", k = 3, beam = 8, hops = 2, entries = 3, seedBits = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b)
  }

  test("graphSearchLayered: coarse walk seeds layer 0; deterministic; evals counted") {
    val g0 = Similarity.nnDescent(clustered, "vec_id", "embedding",
      k = 4, iterations = 1, initBits = 3)
    // denom=4 keeps the coarse layer populated on the 100-row fixture
    val sub = clustered.join(Similarity.coarseLayerNodes(clustered, "vec_id", 4)
      .select(col("id").as("vec_id")), Seq("vec_id"), "left_semi")
    assert(sub.count() > 5, "coarse layer unexpectedly empty")
    val g1 = Similarity.nnDescent(sub, "vec_id", "embedding",
      k = 4, iterations = 1, initBits = 3)
    val exact = Similarity.bruteForceTopK(clustered, clustered, "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val stats = new Similarity.SearchStats
    val got = Similarity.graphSearchLayered(clustered, g0, g1, clustered,
        "vec_id", "embedding", k = 3, beam = 8, hops = 2, entries = 3,
        beam1 = 3, hops1 = 2, seedBits = 3, stats = Some(stats))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val rec = exact.count(got.contains).toDouble / exact.size
    // LSH-seeded coarse walk must rescue far-basin queries like flat
    // bucket seeding does (the multi-cluster fixture is that failure
    // mode), with FEWER layer-0 hops
    assert(rec >= 0.8, s"layered search recall too low: $rec")
    assert(stats.evals > 0, "stats hook did not count scored candidates")
    // the coarse walk's point: flat search needs an extra layer-0 hop
    // for the same recall neighborhood, and evals are deterministic
    // (set-valued candidates), so the comparison is exact, not flaky
    val flatStats = new Similarity.SearchStats
    val flat = Similarity.graphSearch(clustered, g0, clustered,
        "vec_id", "embedding", k = 3, beam = 8, hops = 3, entries = 3,
        seedBits = 3, stats = Some(flatStats))
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val flatRec = exact.count(flat.contains).toDouble / exact.size
    assert(rec >= flatRec - 0.05,
      s"layered hops=2 recall $rec far below flat hops=3 $flatRec")
    assert(stats.evals < flatStats.evals,
      s"layered used ${stats.evals} evals, flat hops=3 ${flatStats.evals}")
    val a = Similarity.graphSearchLayered(clustered.repartition(11), g0, g1,
        clustered, "vec_id", "embedding", k = 3, beam = 8, hops = 2,
        entries = 3, beam1 = 3, hops1 = 2, seedBits = 3)
      .orderBy("query_id", "rank").collect().toSeq
    val b = Similarity.graphSearchLayered(clustered, g0, g1, clustered,
        "vec_id", "embedding", k = 3, beam = 8, hops = 2, entries = 3,
        beam1 = 3, hops1 = 2, seedBits = 3)
      .orderBy("query_id", "rank").collect().toSeq
    assert(a === b)
  }

  test("linearProbeTrain: learns to separate labeled clusters; partition-invariant") {
    import spark.implicits._
    // labels = cluster index (i % 5): a linear probe on near-separated
    // Gaussians must score label-0 vectors above the rest after a few
    // full-batch steps
    val labeled = clustered.withColumn("label", (col("vec_id") % 5).cast("int"))
    val w = Similarity.linearProbeTrain(labeled, "embedding", "label",
      positiveLabel = 0L, iterations = 8, lrShift = 6, dim = dim)
    assert(w.length === dim + 1)
    val wCol = array(w.map(lit): _*)
    val scores = labeled.select(col("vec_id"), col("label"),
        Similarity.dotHof(concat(col("embedding"), array(lit(1.0f))), wCol)
          .as("score"))
      .collect().map(r => (r.getInt(1), r.getDouble(2)))
    val pos = scores.filter(_._1 == 0).map(_._2)
    val neg = scores.filter(_._1 != 0).map(_._2)
    assert(pos.sum / pos.length > neg.sum / neg.length,
      "probe did not separate the positive cluster")
    // fixed-point decimal gradient sums: identical weights at any layout
    val w2 = Similarity.linearProbeTrain(labeled.repartition(13),
      "embedding", "label", positiveLabel = 0L, iterations = 8,
      lrShift = 6, dim = dim)
    assert(w2 === w)
    intercept[IllegalArgumentException] {
      Similarity.linearProbeTrain(labeled.limit(0), "embedding", "label",
        0L, 1, 8, dim)
    }
  }

  test("matryoshkaTopK: full shortlist == brute force; prefix shortlist keeps recall") {
    val full = Similarity.bruteForceTopK(clustered, clustered, "vec_id", "embedding", 3)
      .orderBy("query_id", "rank").collect().toSeq
    val exhaustive = Similarity.matryoshkaTopK(clustered, clustered,
        "vec_id", "embedding", prefixDim = dim, k = 3, shortlist = 99)
      .orderBy("query_id", "rank").collect().toSeq
    assert(exhaustive === full) // full prefix + full shortlist = exact
    val pref = Similarity.matryoshkaTopK(clustered, clustered,
        "vec_id", "embedding", prefixDim = 4, k = 3, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val truth = full.map(r => (r.getLong(0), r.getLong(1))).toSet
    val rec = truth.count(pref.contains).toDouble / truth.size
    assert(rec >= 0.8, s"prefix-4 shortlist-20 recall too low: $rec")
    intercept[IllegalArgumentException] {
      Similarity.matryoshkaTopK(clustered, clustered, "vec_id", "embedding", 4, 5, 3)
    }
  }

  test("hardNegatives: band respected, near-dups excluded, k bounded") {
    val out = Similarity.hardNegatives(clustered, "vec_id", "embedding",
      k = 3, minCos = -0.5, maxCos = 0.9, nBits = 2)
    val rows = out.select("anchor_id", "negative_id", "cos")
      .as[(Long, Long, Double)].collect()
    assert(rows.nonEmpty)
    // the band ceiling IS the near-dup exclusion: the tight same-cluster
    // pairs on this fixture score cos > 0.9 and must all be filtered
    assert(rows.forall(r => r._3 >= -0.5 && r._3 < 0.9), "cos outside band")
    val perAnchor = rows.groupBy(_._1).view.mapValues(_.length)
    assert(perAnchor.values.forall(_ <= 3), "k bound violated")
    // ranks are 1..n contiguous per anchor
    val ranks = out.select("anchor_id", "rank").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq)
    assert(ranks.values.forall(rs => rs == (1 to rs.length)))
    intercept[IllegalArgumentException] {
      Similarity.hardNegatives(clustered, "vec_id", "embedding", 3, 0.5, 0.5, 2)
    }
  }

  test("ivfTopK: full probe equals brute force; partial probe keeps recall") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // nProbe = k probes every cell → EXACTLY the brute-force result
    val all = rows(Similarity.ivfTopK(
      queries, clustered, "vec_id", "embedding", cents, k = 3, nProbe = 5))
    val exact = rows(Similarity.bruteForceTopK(
      queries, clustered, "vec_id", "embedding", 3))
    assert(all == exact)
    // probing 2 of 5 cells on tightly clustered data keeps most of top-3
    val partial = rows(Similarity.ivfTopK(
      queries, clustered, "vec_id", "embedding", cents, k = 3, nProbe = 2))
      .map(t => (t._1, t._2)).toSet
    val recall = exact.map(t => (t._1, t._2)).count(partial.contains).toDouble /
      exact.size
    assert(recall >= 0.8, s"IVF nProbe=2 recall too low: $recall")
    // plan shape: bucket equi-join + bounded native top-k — no Window, no
    // nested-loop candidate generation
    val plan = Similarity.ivfTopK(queries, clustered, "vec_id", "embedding",
      cents, k = 3, nProbe = 2).queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("ivfTopK on full-corpus Lloyd centroids: recall >= sampled-centroid floor") {
    val queries = clustered.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(
        queries, clustered, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallWith(cents: Seq[(Int, Seq[Float])]): Double = {
      val got = Similarity.ivfTopK(
          queries, clustered, "vec_id", "embedding", cents, k = 3, nProbe = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    // the distributed fixed-point Lloyd pass (every corpus vector, q92's
    // arithmetic) must not lose to the 2048-row driver-sample refinement
    // — here the sample IS the corpus, so the floors coincide and the
    // full pass must reproduce them (deterministic inputs)
    val sampled = recallWith(
      Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5))
    val full = recallWith(
      Similarity.ivfCentroidsRefinedFull(clustered, "vec_id", "embedding", 5))
    assert(full >= sampled, s"full-corpus recall $full < sampled $sampled")
    assert(full >= 0.8, s"full-corpus Lloyd retrieval recall too low: $full")
  }

  test("multi-pass Lloyd: deterministic, converges, nIter=1 == RefinedFull") {
    // one pass through the iterated API is exactly the historical one-pass
    val one = Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 1)
    assert(one == Similarity.ivfCentroidsRefinedFull(
      clustered, "vec_id", "embedding", 5))
    // two passes: bit-identical under any partition layout (each pass is
    // fixed-point; the movement stop rule reads Float-rounded centroids)
    val two = Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 2)
    val twoRepart = Similarity.ivfCentroidsIteratedFull(
      clustered.repartition(7), "vec_id", "embedding", 5, nIter = 2)
    assert(two == twoRepart)
    // a huge epsilon stops after the first pass — early stop is effective
    val stopped = Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 10, epsilon = 1e9)
    assert(stopped == one)
    // movement shrinks as passes approach the k-means fixpoint
    val three = Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 3)
    val m12 = Similarity.centroidMovement(one, two)
    val m23 = Similarity.centroidMovement(two, three)
    assert(m23 <= m12, s"movement grew: pass1->2 $m12, pass2->3 $m23")
    // and at a convergent epsilon the loop is idempotent: asking for more
    // passes than needed returns the converged book
    val conv = Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 50, epsilon = 1e-6)
    val convMore = Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 60, epsilon = 1e-6)
    assert(conv == convMore)
  }

  test("multi-pass PQ training: nIter=1 == RefinedFull, deterministic, early-stops") {
    val one = Similarity.pqCodebooksIteratedFull(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim, nIter = 1)
    assert(one == Similarity.pqCodebooksRefinedFull(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim))
    val two = Similarity.pqCodebooksIteratedFull(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim, nIter = 2)
    val twoRepart = Similarity.pqCodebooksIteratedFull(
      clustered.repartition(7), "vec_id", "embedding", m = 4, k = 4, dim = dim,
      nIter = 2)
    assert(two == twoRepart)
    val stopped = Similarity.pqCodebooksIteratedFull(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim,
      nIter = 10, epsilon = 1e9)
    assert(stopped == one)
  }

  test("ivfTopKStored: a persisted bucket column round-trips the retrieval") {
    // the incremental-index path: bucket computed at WRITE time, stored
    // through PartStore, retrieval probes the stored column — identical
    // answers to recomputing the assignment per call
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val queries = clustered.filter(col("vec_id") < 10)
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig("target/tmp/ivf_stored", 86400))
    ps.deletePart("emb_index")
    ps.store("emb_index", clustered.select(
      col("vec_id").as("entity_id"),
      col("vec_id").cast("long").as("timestamp"), // id-range partitioning
      col("embedding"),
      Similarity.ivfBucket(col("embedding"), cents).as("bucket"),
      lit(1L).as("modified")))
    val stored = ps.readPart("emb_index").get.select(
      col("entity_id").as("vec_id"), col("embedding"), col("bucket"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val fromStored = rows(Similarity.ivfTopKStored(
      queries, stored, "vec_id", "embedding", "bucket", cents, k = 3, nProbe = 2))
    val fresh = rows(Similarity.ivfTopK(
      queries, clustered, "vec_id", "embedding", cents, k = 3, nProbe = 2))
    assert(fromStored == fresh)
    // and the stored path really skipped re-assignment: ivfBucket's
    // array_max argmax appears nowhere (the probe side ranks cells with
    // sort_array, not array_max), while the recomputing path carries one.
    // Compare ANALYZED plans — over a LocalRelation corpus the optimizer
    // constant-folds the fresh path's assignment away entirely
    val storedPlan = Similarity.ivfTopKStored(queries, stored, "vec_id",
        "embedding", "bucket", cents, k = 3, nProbe = 2)
      .queryExecution.analyzed.toString
    assert(!storedPlan.contains("array_max"), storedPlan)
    val freshPlan = Similarity.ivfTopK(queries, clustered, "vec_id",
        "embedding", cents, k = 3, nProbe = 2)
      .queryExecution.analyzed.toString
    assert(freshPlan.contains("array_max"), freshPlan)
  }

  test("centroid/codebook sidecars round-trip bit-exactly; stored index replays") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    Similarity.saveCentroids(spark, "target/tmp/cents_sidecar", cents)
    val back = Similarity.loadCentroids(spark, "target/tmp/cents_sidecar")
    assert(back == cents) // Float.toString round-trips exactly
    // a retrieval against the loaded codebook is the same retrieval
    val queries = clustered.filter(col("vec_id") < 5)
    val a = Similarity.ivfTopK(queries, clustered, "vec_id", "embedding",
      cents, k = 3, nProbe = 2).collect().map(_.toSeq).toSeq
    val b = Similarity.ivfTopK(queries, clustered, "vec_id", "embedding",
      back, k = 3, nProbe = 2).collect().map(_.toSeq).toSeq
    assert(a == b)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    Similarity.savePqCodebooks(spark, "target/tmp/pq_sidecar", cbs)
    assert(Similarity.loadPqCodebooks(spark, "target/tmp/pq_sidecar") == cbs)
    val ps = Similarity.sqParams(clustered, "embedding", dim)
    Similarity.saveSqParams(spark, "target/tmp/sq_sidecar", ps)
    val psBack = Similarity.loadSqParams(spark, "target/tmp/sq_sidecar")
    assert(psBack == ps)
    // codes from loaded params are the stored codes — the frozen contract
    val c1 = Similarity.sqEncode(clustered, "vec_id", "embedding", ps)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    val c2 = Similarity.sqEncode(clustered, "vec_id", "embedding", psBack)
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(c1 == c2)
  }

  test("permutation sidecar round-trips; stored OPQ batches equal fresh encode") {
    val perm = Similarity.opqPermutation(clustered, "embedding", m = 4, dim = dim)
    Similarity.savePermutation(spark, "target/tmp/perm_sidecar", perm)
    val back = Similarity.loadPermutation(spark, "target/tmp/perm_sidecar")
    assert(back == perm) // pure ints: exact by construction
    // writeIndexBatchOpq stores OPQ-space vectors/buckets/codes: the
    // stored rows must equal a fresh whole-corpus permute + encode
    val p = Similarity.permuteVectors(clustered, "embedding", back)
    val cents = Similarity.ivfCentroidsRefined(p, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(p, "vec_id", "embedding",
      m = 4, k = 4, dim = dim)
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig("target/tmp/opq_store", 50))
    ps.deletePart("emb")
    Similarity.writeIndexBatchOpq(ps, "emb",
      clustered.filter(col("vec_id") < 50), "vec_id", "embedding",
      back, cents, cbs, modified = 1L)
    Similarity.writeIndexBatchOpq(ps, "emb",
      clustered.filter(col("vec_id") >= 50), "vec_id", "embedding",
      back, cents, cbs, modified = 1L)
    val stored = ps.readPart("emb").get
      .select(col("entity_id"), col("embedding"), col("bucket"), col("pq_code"))
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    val fresh = Similarity.pqEncodeArray(p, "vec_id", "embedding", cbs)
      .join(p, "vec_id")
      .select(col("vec_id"), col("embedding"),
        Similarity.ivfBucket(col("embedding"), cents).as("bucket"),
        col("pq_code"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(stored == fresh)
  }

  test("rotation sidecar round-trips; stored rotated batches equal fresh encode") {
    // the dense-rotation analogue of the permutation sidecar test: R and
    // its jointly-optimized codebooks train once, persist, and a stored
    // index written batch-by-batch with the LOADED sidecar must equal a
    // fresh whole-corpus rotate + encode (the frozen-sidecar contract)
    val (rot, cbs) = Similarity.opqRotationNonParametric(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim, iters = 4)
    Similarity.saveRotation(spark, "target/tmp/rot_sidecar", rot)
    val back = Similarity.loadRotation(spark, "target/tmp/rot_sidecar")
    assert(back == rot) // Float.toString round-trip: parseFloat(toString(f)) == f
    val r = Similarity.rotateVectors(clustered, "embedding", back)
    val cents = Similarity.ivfCentroidsRefined(r, "vec_id", "embedding", 5)
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig("target/tmp/rot_store", 50))
    ps.deletePart("emb")
    Similarity.writeIndexBatchRot(ps, "emb",
      clustered.filter(col("vec_id") < 50), "vec_id", "embedding",
      back, cents, cbs, modified = 1L)
    Similarity.writeIndexBatchRot(ps, "emb",
      clustered.filter(col("vec_id") >= 50), "vec_id", "embedding",
      back, cents, cbs, modified = 1L)
    val stored = ps.readPart("emb").get
      .select(col("entity_id"), col("embedding"), col("bucket"), col("pq_code"))
      .orderBy("entity_id").collect().map(_.toSeq).toSeq
    val fresh = Similarity.pqEncodeArray(r, "vec_id", "embedding", cbs)
      .join(r, "vec_id")
      .select(col("vec_id"), col("embedding"),
        Similarity.ivfBucket(col("embedding"), cents).as("bucket"),
        col("pq_code"))
      .orderBy("vec_id").collect().map(_.toSeq).toSeq
    assert(stored == fresh)
  }

  test("incremental IVF: batches bucket at write time, retrieval spans them") {
    // the full growing-corpus loop: codebook trained once and persisted,
    // each ingest batch computes its OWN bucket with the loaded codebook,
    // retrieval probes the stored column over everything written so far —
    // identical to reassigning the whole corpus per query
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    Similarity.saveCentroids(spark, "target/tmp/ivf_incr/centroids", cents)
    // 50 ids per partition → ids 0..99 span pindex 0 and 1
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig("target/tmp/ivf_incr", 50))
    ps.deletePart("emb")
    def writeBatch(batch: org.apache.spark.sql.DataFrame): Unit = {
      val cb = Similarity.loadCentroids(spark, "target/tmp/ivf_incr/centroids")
      ps.store("emb", batch.select(
        col("vec_id").as("entity_id"),
        col("vec_id").cast("long").as("timestamp"), // id-range partitioning
        col("embedding"),
        Similarity.ivfBucket(col("embedding"), cb).as("bucket"),
        lit(1L).as("modified")))
    }
    writeBatch(clustered.filter(col("vec_id") < 50))
    // snapshot pindex=0's files: the second batch (ids 50..99, pindex 1)
    // must not read or rewrite them — bounded blast radius per append
    def filesOf(dir: String) = {
      val d = new java.io.File(dir)
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified(), f.length())).toSeq.sorted
    }
    val p0 = "target/tmp/ivf_incr/emb/pindex=0"
    val before = filesOf(p0)
    writeBatch(clustered.filter(col("vec_id") >= 50)) // corpus grows
    assert(filesOf(p0) == before,
      "appending a disjoint id range rewrote an untouched partition")
    assert(new java.io.File("target/tmp/ivf_incr/emb/pindex=1").exists())
    val stored = ps.readPart("emb").get.select(
      col("entity_id").as("vec_id"), col("embedding"), col("bucket"))
    assert(stored.count() == 100)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val incremental = rows(Similarity.ivfTopKStored(
      queries, stored, "vec_id", "embedding", "bucket", cents, k = 3, nProbe = 5))
    val fresh = rows(Similarity.ivfTopK(
      queries, clustered, "vec_id", "embedding", cents, k = 3, nProbe = 5))
    assert(incremental == fresh)
  }

  test("full-corpus residual training: partition-invariant, refines the seeds") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val full = Similarity.pqCodebooksResidualFull(
      clustered, "vec_id", "embedding", cents, m = 4, k = 4, dim = dim)
    val repart = Similarity.pqCodebooksResidualFull(
      clustered.repartition(7), "vec_id", "embedding", cents, m = 4, k = 4, dim = dim)
    assert(full == repart) // fixed-point sums: any partition layout
    // the distributed pass genuinely moved the sample-trained seeds
    val seeds = Similarity.pqCodebooksResidual(
      clustered, "vec_id", "embedding", cents, m = 4, k = 4, dim = dim)
    assert(full != seeds)
    // and the refined books feed the existing encoder unchanged
    val codes = Similarity.ivfPqEncodeResidual(
      clustered, "vec_id", "embedding", cents, full)
    assert(codes.count() == 100)
  }

  test("ANN entry points refuse non-integral id columns loudly") {
    // string ids would null out inside the LongType top-k aggregate and
    // return silently-empty results — the guard turns that into a
    // plan-build-time error
    val s = clustered.select(
      concat(lit("v"), col("vec_id")).as("vec_id"), col("embedding"))
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(s, s, "vec_id", "embedding", 3)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopK(s, s, "vec_id", "embedding", cents, 3, 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfTopKStored(s, s, "vec_id", "embedding", "vec_id", cents, 3, 2)
    }
    intercept[IllegalArgumentException] {
      Similarity.adcTopKArray(s,
        Similarity.pqEncodeArray(s, "vec_id", "embedding", cbs),
        s, "vec_id", "embedding", cbs, 3, 10)
    }
    intercept[IllegalArgumentException] {
      val ps = Similarity.sqParams(clustered, "embedding", dim)
      Similarity.sqTopK(s,
        s.select(col("vec_id"), Similarity.sqCode(col("embedding"), ps).as("sq_code")),
        s, "vec_id", "embedding", ps, 3, 10)
    }
  }

  test("SQ8: decode error within half a step; constant dims exact; codes in [0,255]") {
    val ps = Similarity.sqParams(clustered, "embedding", dim)
    assert(ps.length == dim)
    ps.foreach { case (mn, mx) => assert(mn <= mx) }
    // append a constant dimension by training on a frame with one
    val constDim = clustered.select(col("vec_id"),
      concat(col("embedding"), array(lit(3.5f))).as("embedding"))
    val psC = Similarity.sqParams(constDim, "embedding", dim + 1)
    assert(psC(dim) == ((3.5f, 3.5f)))
    val decoded = constDim.select(col("vec_id"), col("embedding"),
        Similarity.sqCode(col("embedding"), psC).as("sq_code"))
      .withColumn("dv", Similarity.sqDecode(col("sq_code"), psC))
      .collect()
    decoded.foreach { r =>
      val x = r.getSeq[Float](1)
      val c = r.getSeq[Short](2)
      val v = r.getSeq[Double](3)
      c.foreach(ci => assert(ci >= 0 && ci <= 255))
      // constant dim: code 0, exact reconstruction
      assert(c(dim) == 0 && v(dim) == 3.5f.toDouble)
      // every dim reconstructs within half a quantization step
      (0 until dim).foreach { d =>
        val (mn, mx) = psC(d)
        val step = (mx.toDouble - mn.toDouble) / 255.0
        assert(math.abs(v(d) - x(d).toDouble) <= step / 2 + 1e-12,
          s"dim $d: ${v(d)} vs ${x(d)} (step $step)")
      }
    }
  }

  test("maximin seeding spreads seeds across clusters; deterministic; composes with Lloyd") {
    // with k = true cluster count, farthest-point seeds land one per
    // cluster — the md5-ordered prefix has no such guarantee
    val seeds = Similarity.maximinSeeds(clustered, "vec_id", "embedding", 5)
    assert(seeds.map(_._1) == (0 until 5))
    val again = Similarity.maximinSeeds(clustered, "vec_id", "embedding", 5)
    assert(again == seeds)
    // every true cluster center is closest to a DISTINCT maximin seed
    val centers = clustered.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .groupBy(_._1 % 5).map { case (c, vs) =>
        val dim = vs.head._2.length
        val m = new Array[Float](dim)
        vs.foreach(v => (0 until dim).foreach(d => m(d) += v._2(d) / vs.length))
        c -> m.toSeq
      }
    def cosL(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val assignment = centers.values.map { c =>
      seeds.maxBy { case (_, s) => cosL(c, s) }._1
    }.toSet
    assert(assignment.size == 5,
      s"maximin seeds collapsed clusters: only ${assignment.size} distinct")
    // seeds inject into the full-corpus Lloyd loop: the gate with
    // maximin+1 pass recovers at least what md5-prefix+1 pass does
    val queries = clustered.filter(col("vec_id") < 10)
    val exact = Similarity.bruteForceTopK(queries, clustered, "vec_id", "embedding", 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    def recallWith(c: Seq[(Int, Seq[Float])]): Double = {
      val got = Similarity.ivfTopK(queries, clustered, "vec_id", "embedding",
        c, k = 3, nProbe = 1).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val mm = recallWith(Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 1,
      seedsOpt = Some(seeds)))
    val md = recallWith(Similarity.ivfCentroidsIteratedFull(
      clustered, "vec_id", "embedding", 5, nIter = 1))
    assert(mm >= md, s"maximin-seeded recall $mm < md5-prefix recall $md")
  }

  test("ivfSqTopK: full probe equals sqTopK; partial probe keeps recall") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val ps = Similarity.sqParams(clustered, "embedding", dim)
    val codes = Similarity.sqEncode(clustered, "vec_id", "embedding", ps)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val full = rows(Similarity.ivfSqTopK(queries, codes, clustered,
      "vec_id", "embedding", cents, ps, k = 3, nProbe = 5, shortlist = 100))
    val flat = rows(Similarity.sqTopK(queries, codes, clustered,
      "vec_id", "embedding", ps, k = 3, shortlist = 100))
    assert(full == flat)
    val partial = rows(Similarity.ivfSqTopK(queries, codes, clustered,
        "vec_id", "embedding", cents, ps, k = 3, nProbe = 2, shortlist = 100))
      .map(t => (t._1, t._2)).toSet
    val recall = flat.map(t => (t._1, t._2)).count(partial.contains).toDouble /
      flat.size
    assert(recall >= 0.8, s"IVF-SQ nProbe=2 recall too low: $recall")
  }

  test("ivfSqTopKStored: stored bucket+code columns replay the fresh path") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val ps = Similarity.sqParams(clustered, "embedding", dim)
    val queries = clustered.filter(col("vec_id") < 10)
    val index = clustered.select(col("vec_id"),
      Similarity.ivfBucket(col("embedding"), cents).as("bucket"),
      Similarity.sqCode(col("embedding"), ps).as("sq_code"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val stored = rows(Similarity.ivfSqTopKStored(queries, index, clustered,
      "vec_id", "embedding", "bucket", "sq_code", cents, ps,
      k = 3, nProbe = 2, shortlist = 20))
    val fresh = rows(Similarity.ivfSqTopK(queries,
      Similarity.sqEncode(clustered, "vec_id", "embedding", ps), clustered,
      "vec_id", "embedding", cents, ps, k = 3, nProbe = 2, shortlist = 20))
    assert(stored == fresh)
  }

  test("ivfBqTopK: full probe equals bqTopK; partial probe keeps recall") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val codes = Similarity.bqEncode(clustered, "vec_id", "embedding", dim)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val full = rows(Similarity.ivfBqTopK(queries, codes, clustered,
      "vec_id", "embedding", cents, dim, k = 3, nProbe = 5, shortlist = 100))
    val flat = rows(Similarity.bqTopK(queries, codes, clustered,
      "vec_id", "embedding", dim, k = 3, shortlist = 100))
    assert(full == flat)
    val partial = rows(Similarity.ivfBqTopK(queries, codes, clustered,
        "vec_id", "embedding", cents, dim, k = 3, nProbe = 2, shortlist = 100))
      .map(t => (t._1, t._2)).toSet
    val recall = flat.map(t => (t._1, t._2)).count(partial.contains).toDouble /
      flat.size
    assert(recall >= 0.8, s"IVF-BQ nProbe=2 recall too low: $recall")
  }

  test("BQ: sign-bit packing matches a local recompute; partial last word works") {
    // dim=16 → one partial word; recompute the pack locally bit by bit
    val got = Similarity.bqEncode(clustered, "vec_id", "embedding", dim)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap
    val vecs = clustered.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    vecs.foreach { case (id, v) =>
      val expected = v.zipWithIndex.foldLeft(0L) { case (acc, (x, d)) =>
        if (x > 0f) acc | (1L << (d % 32)) else acc
      }
      assert(got(id) == Seq(expected), s"vec $id")
    }
    // 64 dims → exactly two full words, every bit position exercised
    val wide = clustered.select(col("vec_id"),
      concat(col("embedding"), col("embedding"), col("embedding"),
        col("embedding")).as("embedding"))
    val words = Similarity.bqEncode(wide, "vec_id", "embedding", 64)
      .select(org.apache.spark.sql.functions.size(col("bq_code")).as("n"))
      .distinct().collect().map(_.getInt(0)).toSeq
    assert(words == Seq(2))
  }

  test("bqTopK: full shortlist equals brute force; tight shortlist keeps recall") {
    val codes = Similarity.bqEncode(clustered, "vec_id", "embedding", dim)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    val full = rows(Similarity.bqTopK(
      queries, codes, clustered, "vec_id", "embedding", dim, k = 3, shortlist = 100))
    val exact = rows(Similarity.bruteForceTopK(
      queries, clustered, "vec_id", "embedding", 3))
    assert(full == exact)
    // 1-bit estimates are crude: same-cluster vectors share sign patterns,
    // so a cluster-sized shortlist still recovers most of the top-3
    val tight = rows(Similarity.bqTopK(
        queries, codes, clustered, "vec_id", "embedding", dim, k = 3, shortlist = 20))
      .map(t => (t._1, t._2)).toSet
    val recall = exact.map(t => (t._1, t._2)).count(tight.contains).toDouble /
      exact.size
    assert(recall >= 0.7, s"BQ shortlist=20 recall too low: $recall")
  }

  test("compressed scans keep the bounded-top-k plan shape (no Window, broadcast query side)") {
    val ps = Similarity.sqParams(clustered, "embedding", dim)
    val scodes = Similarity.sqEncode(clustered, "vec_id", "embedding", ps)
    val bcodes = Similarity.bqEncode(clustered, "vec_id", "embedding", dim)
    val queries = clustered.filter(col("vec_id") < 10)
    Seq(
      Similarity.sqTopK(queries, scodes, clustered, "vec_id", "embedding",
        ps, k = 3, shortlist = 10),
      Similarity.bqTopK(queries, bcodes, clustered, "vec_id", "embedding",
        dim, k = 3, shortlist = 10),
      Similarity.rangeSearch(queries, clustered, "vec_id", "embedding", 0.5)
    ).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      // ranking flows through the bounded TopKPairs aggregate (or a pure
      // map-side filter for range search) — a Window would sort EVERY
      // candidate pair per query
      assert(!plan.contains("Window"), plan)
      assert(plan.contains("BroadcastExchange"), plan)
    }
  }

  test("rangeSearch matches a local recompute; IVF gate is an exact subset with recall") {
    val queries = clustered.filter(col("vec_id") < 10)
    val t = 0.5
    // local ground truth with the same left-to-right double fold
    val all = clustered.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def cosL(a: Array[Float], b: Array[Float]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0
      (0 until a.length).foreach { i =>
        d += a(i).toDouble * b(i).toDouble
        na += a(i).toDouble * a(i).toDouble
        nb += b(i).toDouble * b(i).toDouble
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = (for {
      q <- all.keys.filter(_ < 10); c <- all.keys if q != c
      if cosL(all(q), all(c)) >= t
    } yield (q, c)).toSet
    val got = Similarity.rangeSearch(queries, clustered, "vec_id", "embedding", t)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.map(p => (p._1, p._2)).toSet == expected)
    got.foreach { case (q, c, cos) =>
      assert(math.abs(cos - cosL(all(q), all(c))) < 1e-12)
      assert(cos >= t)
    }
    // IVF-gated: always a subset of the exact answer, high recall on
    // clustered data even probing 2 of 5 cells
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val gated = Similarity.rangeSearchIvf(
        queries, clustered, "vec_id", "embedding", cents, t, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(gated.subsetOf(expected))
    val recall = expected.count(gated.contains).toDouble / math.max(expected.size, 1)
    assert(recall >= 0.8, s"IVF range recall too low: $recall (${expected.size} pairs)")
  }

  test("sqTopK: full shortlist equals brute force; tight shortlist keeps recall") {
    val ps = Similarity.sqParams(clustered, "embedding", dim)
    val codes = Similarity.sqEncode(clustered, "vec_id", "embedding", ps)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    // shortlist = corpus: the estimate only orders candidates, every one
    // is exact-reranked → EXACTLY the brute-force result
    val full = rows(Similarity.sqTopK(
      queries, codes, clustered, "vec_id", "embedding", ps, k = 3, shortlist = 100))
    val exact = rows(Similarity.bruteForceTopK(
      queries, clustered, "vec_id", "embedding", 3))
    assert(full == exact)
    // a tight shortlist rides the 8-bit estimate — near-lossless at SQ8
    val tight = rows(Similarity.sqTopK(
        queries, codes, clustered, "vec_id", "embedding", ps, k = 3, shortlist = 5))
      .map(t => (t._1, t._2)).toSet
    val recall = exact.map(t => (t._1, t._2)).count(tight.contains).toDouble /
      exact.size
    assert(recall >= 0.9, s"SQ8 shortlist=5 recall too low: $recall")
  }

  test("full-corpus Lloyd refuses an empty corpus loudly") {
    val empty = clustered.filter(col("vec_id") < 0)
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfCentroidsRefinedFull(empty, "vec_id", "embedding", 4)
    }
    assert(e.getMessage.contains("empty corpus"))
  }

  test("bucketed rerank cos equals the exact cosine") {
    val pairs = Similarity.bucketedNeighborsGaussian(
        clustered, "vec_id", "embedding", 4, dim, 42L, minCos = -1.0)
    val a = clustered.select(col("vec_id").as("id1"), col("embedding").as("va"))
    val b = clustered.select(col("vec_id").as("id2"), col("embedding").as("vb"))
    val joined = pairs.join(a, "id1").join(b, "id2")
      .withColumn("expected", Similarity.cosine(col("va"), col("vb")))
    assert(joined.filter(col("cos") =!= col("expected")).count() == 0)
  }

  test("maxBucket drops a degenerate bucket") {
    // constant vectors all hash to one bucket; clustered ones spread
    val degenerate = (100L until 160L).map(i => (i, Seq.fill(dim)(1.0f)))
      .toDF("vec_id", "embedding")
    val all = clustered.unionByName(degenerate)
    val uncapped = Similarity.bucketedNeighborsGaussian(
      all, "vec_id", "embedding", 4, dim, 42L, minCos = -1.0)
    val capped = Similarity.bucketedNeighborsGaussian(
      all, "vec_id", "embedding", 4, dim, 42L, minCos = -1.0, maxBucket = 50)
    // the 60 constant vectors alone contribute 60*59/2 = 1770 pairs
    assert(uncapped.count() - capped.count() >= 1770)
    assert(!capped.select("id1").collect().map(_.getLong(0)).exists(_ >= 100L))
  }

  test("ivf assignment picks the true nearest centroid") {
    val centroids = Similarity.ivfCentroids(clustered, "vec_id", "embedding", 5)
    assert(centroids.length == 5 && centroids.map(_._1) == (0 until 5))
    val assigned = clustered.select(col("vec_id"),
        Similarity.ivfBucket(col("embedding"), centroids).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    // recompute argmax on the driver for every vector
    def cos(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).foldLeft(0.0) { case (acc, (x, y)) => acc + x.toDouble * y.toDouble }
      val na = math.sqrt(a.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      val nb = math.sqrt(b.foldLeft(0.0)((acc, x) => acc + x.toDouble * x.toDouble))
      d / (na * nb)
    }
    val vecs = clustered.collect().map(r =>
      r.getLong(0) -> r.getSeq[Float](1).toSeq)
    vecs.foreach { case (id, v) =>
      val best = centroids.map { case (i, c) => (cos(v, c), i) }.max._2
      assert(assigned(id) == best, s"vec $id")
    }
  }

  test("self-similarity executes ONE broadcast join (no phantom halving)") {
    // The mirrored orientations must come from an explode over one computed
    // cos — a union of two references to the join would execute the
    // broadcast join twice, paying N² dot products for N²/2 pairs.
    val scored = Similarity.bruteForceTopK(clustered, clustered, "vec_id", "embedding", 2)
    val plan = scored.queryExecution.executedPlan.toString
    val joins = "BroadcastNestedLoopJoin".r.findAllIn(plan).size
    assert(joins == 1, s"expected 1 BroadcastNestedLoopJoin, got $joins:\n$plan")
    // mirrored-orientation semantics: every (q,n) has its (n,q) twin in the
    // full scored set → symmetric top-k against a symmetric corpus
    val rows = scored.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) <= 2))
  }

  test("knnLabel assigns the majority cluster label and breaks ties low") {
    // seeds: first 50 clustered vectors labeled by their cluster (i % 5);
    // queries: the other 50. Tight clusters → all 5 NN share the label.
    val labeled = clustered.filter(col("vec_id") < 50)
      .withColumn("label", (col("vec_id") % 5).cast("int"))
    val queries = clustered.filter(col("vec_id") >= 50)
    val out = Similarity.knnLabel(queries, labeled, "vec_id", "embedding",
        "label", k = 5)
      .collect().map(r => r.getLong(0) -> (r.getInt(1), r.getLong(2))).toMap
    assert(out.size == 50)
    out.foreach { case (id, (lbl, votes)) =>
      assert(lbl == (id % 5).toInt, s"vec $id predicted $lbl")
      assert(votes == 5L, s"vec $id unanimous vote expected, got $votes")
    }

    // exact vote tie (two identical seeds, different labels) → smallest label
    val seeds = Seq(
      (10L, Seq(1.0f, 1.0f), 3), (11L, Seq(1.0f, 1.0f), 1)
    ).toDF("vec_id", "embedding", "label")
    val q = Seq((0L, Seq(1.0f, 0.0f))).toDF("vec_id", "embedding")
    val tied = Similarity.knnLabel(q, seeds, "vec_id", "embedding", "label", k = 2)
      .collect()
    assert(tied.length == 1 && tied.head.getInt(1) == 1 && tied.head.getLong(2) == 1L)
  }

  test("self-similarity detected via logical plan, not reference equality") {
    val path = "target/tmp/simspec_vecs"
    clustered.write.mode("overwrite").parquet(path)
    val load1 = spark.read.parquet(path)
    val load2 = spark.read.parquet(path) // separate DataFrame, same source
    val viaTwoLoads = Similarity
      .bruteForceTopK(load1, load2, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    val viaOne = Similarity
      .bruteForceTopK(load1, load1, "vec_id", "embedding", 3)
      .collect().map(_.toSeq).toSet
    assert(viaTwoLoads == viaOne)
  }
  test("knnLabel works with non-numeric labels (majority, smallest-label ties)") {
    val seeds = Seq(
      (1L, Seq(1f, 0f), "ham"), (2L, Seq(0.9f, 0.1f), "ham"),
      (3L, Seq(0f, 1f), "spam"), (4L, Seq(0.1f, 0.9f), "spam"),
      (5L, Seq(0.8f, 0.2f), "eggs")
    ).toDF("vec_id", "embedding", "label")
    val queries = Seq((10L, Seq(1f, 0.05f)), (11L, Seq(0.05f, 1f)))
      .toDF("vec_id", "embedding")
    val out = Similarity.knnLabel(queries, seeds, "vec_id", "embedding",
        "label", k = 3)
      .orderBy("vec_id").collect()
    assert(out(0).getString(1) == "ham")  // 2 ham + 1 eggs
    assert(out(1).getString(1) == "spam") // spam cluster
  }

  test("ivfPqTopK: full probe equals the ADC full scan; partial probe keeps recall") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    val codes = Similarity.pqEncodeArray(clustered, "vec_id", "embedding", cbs)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // nProbe = k probes every cell → the IVF gate admits every candidate,
    // so the result IS adcTopKArray's (same codebooks, same shortlist)
    val all = rows(Similarity.ivfPqTopK(queries, codes, clustered, "vec_id",
      "embedding", cents, cbs, k = 3, nProbe = 5, shortlist = 10))
    val fullScan = rows(Similarity.adcTopKArray(queries, codes, clustered,
      "vec_id", "embedding", cbs, k = 3, shortlist = 10))
    assert(all == fullScan)
    // probing 2 of 5 cells on tightly clustered data keeps most of the
    // full scan's top-3 — the k/nProbe work reduction costs little recall
    val partial = rows(Similarity.ivfPqTopK(queries, codes, clustered,
        "vec_id", "embedding", cents, cbs, k = 3, nProbe = 2, shortlist = 10))
      .map(r => (r.head, r(1))).toSet
    val recall = fullScan.map(r => (r.head, r(1))).count(partial.contains)
      .toDouble / fullScan.size
    assert(recall >= 0.8, s"IVF-PQ nProbe=2 recall too low: $recall")
    // plan shape: no Window, no Cartesian candidate generation — the probe
    // gate and the per-query distance join are equi-joins. (The one
    // BroadcastNestedLoopJoin in the plan is the intentional m·k-row
    // codebook cross join building the distance table, not a candidate
    // generator.)
    val plan = Similarity.ivfPqTopK(queries, codes, clustered, "vec_id",
        "embedding", cents, cbs, k = 3, nProbe = 2, shortlist = 10)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("ivfPqTopKStored: write-time bucket+code columns replay the fresh path") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    val codes = Similarity.pqEncodeArray(clustered, "vec_id", "embedding", cbs)
    val queries = clustered.filter(col("vec_id") < 10)
    // the stored index carries BOTH columns, computed once at write time —
    // materialized through parquet so retrieval genuinely READS them
    // (and the analyzed-plan assertion below sees no derivation lineage)
    clustered
      .select(col("vec_id"),
        Similarity.ivfBucket(col("embedding"), cents).as("bucket"),
        col("embedding"))
      .join(codes, "vec_id")
      .select("vec_id", "bucket", "pq_code")
      .write.mode("overwrite").parquet("target/tmp/ivfpq_index")
    val index = spark.read.parquet("target/tmp/ivfpq_index")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val stored = rows(Similarity.ivfPqTopKStored(queries, index, clustered,
      "vec_id", "embedding", "bucket", "pq_code", cents, cbs,
      k = 3, nProbe = 2, shortlist = 10))
    val fresh = rows(Similarity.ivfPqTopK(queries, codes, clustered, "vec_id",
      "embedding", cents, cbs, k = 3, nProbe = 2, shortlist = 10))
    assert(stored == fresh)
    // the stored path never re-derives the assignment argmax
    val storedPlan = Similarity.ivfPqTopKStored(queries, index, clustered,
        "vec_id", "embedding", "bucket", "pq_code", cents, cbs,
        k = 3, nProbe = 2, shortlist = 10)
      .queryExecution.analyzed.toString
    assert(!storedPlan.contains("array_max"), storedPlan)
  }

  test("residual IVF-PQ: wide shortlist equals exact IVF; tight shortlist keeps recall") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksResidual(
      clustered, "vec_id", "embedding", cents, m = 4, k = 4, dim = dim)
    val index = Similarity.ivfPqEncodeResidual(
      clustered, "vec_id", "embedding", cents, cbs)
    val queries = clustered.filter(col("vec_id") < 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    // shortlist ≥ every probed candidate → the ADC tier admits all of
    // them and the exact rerank makes the result ivfTopK's, bit for bit
    val wide = rows(Similarity.ivfPqTopKResidual(queries, index, clustered,
      "vec_id", "embedding", "bucket", "pq_code", cents, cbs,
      k = 3, nProbe = 2, shortlist = 1000))
    val exactIvf = rows(Similarity.ivfTopK(queries, clustered, "vec_id",
      "embedding", cents, k = 3, nProbe = 2))
    assert(wide == exactIvf)
    // the residual story, asserted where it actually lives: codes that
    // encode (vector − cell centroid) reconstruct the corpus with lower
    // squared error than raw-vector codes from the same sample budget —
    // on clustered data the raw codebook wastes its bits re-encoding the
    // cell mean. (Rank-recall at a tight shortlist is NOT asserted: within
    // a tight cluster residuals are noise and intra-cell order is
    // data-dependent — the wide-shortlist identity above pins semantics.)
    val rawCbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    def dotd(a: Seq[Float], b: Seq[Float]): Double =
      a.zip(b).foldLeft(0.0) { case (s, (x, y)) => s + x.toDouble * y.toDouble }
    def sqErr(v: Seq[Float], rec: Seq[Float]): Double = {
      val d = v.zip(rec).map { case (x, y) => x.toDouble - y.toDouble }
      d.map(x => x * x).sum
    }
    val vecs = clustered.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toSeq))
    val assignCell = Similarity.driverAssign(cents)
    val cmap = cents.toMap
    val sub = dim / 4
    def encodeWith(cb: Seq[Seq[(Int, Seq[Float])]], v: Seq[Float]): Seq[Float] =
      (0 until 4).flatMap { j =>
        val s = v.slice(j * sub, (j + 1) * sub)
        val code = Similarity.driverAssign(cb(j))(s)
        cb(j).toMap.apply(code)
      }
    val (resErr, rawErr) = vecs.foldLeft((0.0, 0.0)) { case ((re, ra), (_, v)) =>
      val c = cmap(assignCell(v))
      val res = v.zip(c).map { case (x, y) => x - y }
      val recRes = c.zip(encodeWith(cbs, res)).map { case (x, y) => x + y }
      (re + sqErr(v, recRes), ra + sqErr(v, encodeWith(rawCbs, v)))
    }
    assert(resErr < rawErr,
      s"residual reconstruction $resErr not better than raw $rawErr")
    // partition-layout invariance: the index columns and retrieval are
    // deterministic under any parallelism
    val repart = Similarity.ivfPqEncodeResidual(
      clustered.repartition(7), "vec_id", "embedding", cents, cbs)
    val viaRepart = rows(Similarity.ivfPqTopKResidual(queries, repart,
      clustered.repartition(5), "vec_id", "embedding", "bucket", "pq_code",
      cents, cbs, k = 3, nProbe = 2, shortlist = 10))
    val base = rows(Similarity.ivfPqTopKResidual(queries, index, clustered,
      "vec_id", "embedding", "bucket", "pq_code", cents, cbs,
      k = 3, nProbe = 2, shortlist = 10))
    assert(viaRepart == base)
  }

  test("IVF-PQ entry points tolerate empty sides and an over-wide probe") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    val codes = Similarity.pqEncodeArray(clustered, "vec_id", "embedding", cbs)
    val queries = clustered.filter(col("vec_id") < 10)
    val none = clustered.filter(col("vec_id") < 0)
    // empty query side → empty result, no job failure
    assert(Similarity.ivfPqTopK(none, codes, clustered, "vec_id", "embedding",
      cents, cbs, k = 3, nProbe = 2, shortlist = 10).count() == 0)
    // empty corpus/code side → empty result
    val noCodes = Similarity.pqEncodeArray(none, "vec_id", "embedding", cbs)
    assert(Similarity.ivfPqTopK(queries, noCodes, none, "vec_id", "embedding",
      cents, cbs, k = 3, nProbe = 2, shortlist = 10).count() == 0)
    // nProbe beyond the centroid count behaves as nProbe = k (the probe
    // slice caps at the cell array), matching the full-probe identity
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    val over = rows(Similarity.ivfPqTopK(queries, codes, clustered, "vec_id",
      "embedding", cents, cbs, k = 3, nProbe = 99, shortlist = 10))
    val full = rows(Similarity.ivfPqTopK(queries, codes, clustered, "vec_id",
      "embedding", cents, cbs, k = 3, nProbe = 5, shortlist = 10))
    assert(over == full)
  }

  test("full-corpus PQ training: partition-invariant, moves seeds, keeps empty codes") {
    val full = Similarity.pqCodebooksRefinedFull(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    // bit-identical under any partition layout (fixed-point LONG sums)
    val repart = Similarity.pqCodebooksRefinedFull(
      clustered.repartition(7), "vec_id", "embedding", m = 4, k = 4, dim = dim)
    assert(full == repart)
    // the full pass genuinely moved the seed codebooks (corpus ≠ sample
    // here would be redundant — what matters is means ≠ raw seed vectors)
    val seeds = Similarity.pqCodebooks(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    assert(full != seeds)
    // a code no corpus vector maps to keeps its seed: train against a
    // single-vector corpus — at most one code per subspace has members
    val one = clustered.filter(col("vec_id") === 0)
    val oneSeeds = Similarity.pqCodebooks(
      one, "vec_id", "embedding", m = 4, k = 1, dim = dim)
    val oneFull = Similarity.pqCodebooksRefinedFull(
      one, "vec_id", "embedding", m = 4, k = 1, dim = dim)
    assert(oneSeeds.flatten.map(_._1) == oneFull.flatten.map(_._1))
    // and the refined books encode without error
    assert(Similarity.pqEncodeArray(clustered, "vec_id", "embedding", full)
      .count() == 100)
  }

  test("NaN cosine never occupies a top-k slot, regardless of arrival order") {
    val corpus = Seq(
      (1L, Seq(1f, 0f)), (2L, Seq(0.9f, 0.1f)), (3L, Seq(0.8f, 0.3f)),
      (4L, Seq(Float.NaN, 1f))
    ).toDF("vec_id", "embedding")
    val qs = Seq((10L, Seq(1f, 0.01f))).toDF("vec_id", "embedding")
    Seq(1, 4).foreach { parts =>
      val got = Similarity.bruteForceTopK(
          qs, corpus.repartition(parts), "vec_id", "embedding", k = 3)
        .select("neighbor_id").collect().map(_.getLong(0)).toSet
      assert(got == Set(1L, 2L, 3L), s"parts=$parts got $got")
    }
  }

  test("by-bucket index: retrieval prunes the scan to probed cells, same answers") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    // partitionSizeSeconds = 1 → pindex == bucket
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig("target/tmp/ivf_bybucket", 1))
    ps.deletePart("emb")
    Similarity.writeIndexBatchByBucket(ps, "emb", clustered,
      "vec_id", "embedding", cents, cbs, modified = 1L)
    // one partition dir per non-empty cell
    val dirs = new java.io.File("target/tmp/ivf_bybucket/emb").listFiles()
      .filter(_.getName.startsWith("pindex=")).map(_.getName).sorted
    assert(dirs.nonEmpty && dirs.length <= 5, dirs.toSeq)
    val queries = clustered.filter(col("vec_id") < 10)
    val pruned = Similarity.ivfTopKStoredPruned(
      queries, ps, "emb", "vec_id", "embedding", cents, k = 3, nProbe = 2)
    // identical to the unpruned stored retrieval — pruning is IO elision
    val stored = ps.readPart("emb").get.select(
      col("entity_id").as("vec_id"), col("embedding"), col("bucket"))
    val full = Similarity.ivfTopKStored(
      queries, stored, "vec_id", "embedding", "bucket", cents, k = 3, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows(pruned) == rows(full))
    // and the scan really carries a pindex PartitionFilter
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("pindex"), s"no pindex partition filter: $scanLine")
  }

  test("by-bucket IVF-PQ: pruned stored retrieval == unpruned, filter present") {
    val cents = Similarity.ivfCentroidsRefined(clustered, "vec_id", "embedding", 5)
    val cbs = Similarity.pqCodebooksRefined(
      clustered, "vec_id", "embedding", m = 4, k = 4, dim = dim)
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig("target/tmp/ivfpq_bybucket", 1))
    ps.deletePart("emb")
    Similarity.writeIndexBatchByBucket(ps, "emb", clustered,
      "vec_id", "embedding", cents, cbs, modified = 1L)
    val queries = clustered.filter(col("vec_id") < 10)
    val pruned = Similarity.ivfPqTopKStoredPruned(queries, ps, "emb",
      clustered, "vec_id", "embedding", cents, cbs,
      k = 3, nProbe = 2, shortlist = 10)
    val stored = ps.readPart("emb").get.select(
      col("entity_id").as("vec_id"), col("bucket"), col("pq_code"))
    val full = Similarity.ivfPqTopKStored(queries, stored, clustered,
      "vec_id", "embedding", "bucket", "pq_code", cents, cbs,
      k = 3, nProbe = 2, shortlist = 10)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows(pruned) == rows(full)) // pruning is pure IO elision
    val scanLine = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("pindex"), s"no pindex partition filter: $scanLine")
    intercept[IllegalArgumentException] { // refuses a non-by-bucket store
      Similarity.ivfPqTopKStoredPruned(queries, new graft.storage.PartStore(
        spark, graft.storage.PartStoreConfig("target/tmp/ivfpq_bybucket", 50)),
        "emb", clustered, "vec_id", "embedding", cents, cbs, 3, 2, 10)
    }
  }

  test("graphInsertBatch: incremental index recall tracks the fresh build") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_ginc_").toString
    val es = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(s"$work/e", 50, keyCols = Seq("entity_id", "dst")))
    val vs = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(s"$work/v", 50, keyCols = Seq("entity_id")))
    def insert(b: org.apache.spark.sql.DataFrame): Unit =
      Similarity.graphInsertBatch(es, vs, "g", b, "vec_id", "embedding",
        k = 4, beam = 8, hops = 2, entries = 3, seedBits = 3)
    insert(clustered.filter(col("vec_id") < 50))
    insert(clustered.filter(col("vec_id") >= 50))
    val (g, v) = Similarity.readGraphIndex(es, vs, "g")
    assert(v.count() === 100L)
    val queries = clustered.filter(col("vec_id") % 10 === 0)
    def recall(got: Set[(Long, Long)]): Double = {
      val exact = Similarity.bruteForceTopK(queries, clustered,
          "vec_id", "embedding", 3)
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      exact.count(got.contains).toDouble / exact.size
    }
    val incr = recall(Similarity.graphSearch(queries,
        g, v.select(col("entity_id").as("vec_id"), col("vec").as("embedding")),
        "vec_id", "embedding", k = 3, beam = 8, hops = 3, entries = 3, seedBits = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    val fresh = recall(Similarity.graphSearch(queries,
        Similarity.nnDescent(clustered, "vec_id", "embedding", 4, 1, 3), clustered,
        "vec_id", "embedding", k = 3, beam = 8, hops = 3, entries = 3, seedBits = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    // insertion order costs some edge quality; the contract is the
    // incremental index stays a working ANN index, not a bit-equal one
    assert(incr >= fresh - 0.15 && incr >= 0.6,
      s"incremental graph recall $incr vs fresh $fresh")
    // idempotent replay of batch 2: edges upsert on (src, dst)
    val nEdges = g.count()
    insert(clustered.filter(col("vec_id") >= 50))
    assert(Similarity.readGraphIndex(es, vs, "g")._1.count() >= nEdges)
    // the persisted seed registry (what replaced the per-batch full-
    // corpus window, verdict r14 #5) must equal the full-corpus
    // per-bucket md5-top-`entries` recompute EXACTLY — the monoid-fold
    // equivalence that keeps the q194 oracle replay valid. Also stable
    // under the batch-2 replay above (dedup-by-node before the prune).
    locally {
      import org.apache.spark.sql.expressions.Window
      val reg = vs.readPart("g__seeds").get
        .select(col("entity_id").as("node"), col("b"), col("mk"))
        .as[(Long, Long, String)].collect().toSet
      val bw = Window.partitionBy("b").orderBy("mk", "node")
      val full = clustered
        .select(col("vec_id").as("node"),
          Similarity.hyperplaneBucket(col("embedding"), 3).as("b"),
          md5(col("vec_id").cast("string")).as("mk"))
        .withColumn("rn", row_number().over(bw))
        .filter(col("rn") <= 3).drop("rn")
        .as[(Long, Long, String)].collect().toSet
      assert(reg == full, s"registry ${reg.size} != full recompute ${full.size}")
    }
  }

  test("ivfCellSplit: only hot cells split, membership preserved, ids fresh") {
    val assigned = clustered.select(col("vec_id"),
      col("embedding"), (col("vec_id") % 4).as("bucket")) // 25 members each
    val out = Similarity.ivfCellSplit(assigned, "vec_id", "embedding",
        "bucket", cap = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.length == 100)
    // every cell is hot (25 > 20): four splits, new ids 4..7 (maxB=3 + rank)
    val newIds = out.map(_._3).toSet
    assert(newIds.subsetOf(Set(0L, 1L, 2L, 3L, 4L, 5L, 6L, 7L)), newIds)
    out.groupBy(_._2).foreach { case (oldB, rows) =>
      val subs = rows.map(_._3).toSet
      assert(subs.size == 2 && subs.contains(oldB), s"cell $oldB -> $subs")
      assert(subs.filter(_ != oldB).forall(_ >= 4L))
      // both subcells non-empty and membership preserved
      assert(rows.groupBy(_._3).values.forall(_.nonEmpty))
      assert(rows.map(_._1).toSet ==
        (0 until 100).map(_.toLong).filter(_ % 4 == oldB).toSet)
    }
    // a cold corpus passes through untouched
    val cold = Similarity.ivfCellSplit(assigned, "vec_id", "embedding",
        "bucket", cap = 30)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(cold.forall { case (o, n) => o == n })
  }

  test("applyCellSplitStored: rows physically move partitions; pruned " +
      "retrieval over the post-split index stays exact") {
    val work = java.nio.file.Files.createTempDirectory("graft_split_").toString
    val ps = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(work, 1L, keyCols = Seq("entity_id")))
    val cents = Similarity.ivfCentroidsRefinedFull(
      clustered, "vec_id", "embedding", 4)
    ps.store("emb", clustered.select(col("vec_id").as("entity_id"),
      Similarity.ivfBucket(col("embedding"), cents).cast("long").as("timestamp"),
      col("embedding"),
      Similarity.ivfBucket(col("embedding"), cents).as("bucket"),
      lit(1L).as("modified")))
    val fsys = org.apache.hadoop.fs.FileSystem.get(
      spark.sparkContext.hadoopConfiguration)
    def dirs = fsys.listStatus(new org.apache.hadoop.fs.Path(s"$work/emb"))
      .map(_.getPath.getName).filter(_.startsWith("pindex=")).sorted.toSeq
    val before = dirs
    val newCents = Similarity.applyCellSplitStored(ps, "emb", cents, cap = 20)
    // 100 vectors over 4 cells → every cell hot at cap 20 → 4 new dirs
    assert(dirs.size > before.size, s"no new partition dirs: $dirs")
    assert(newCents.size == cents.size + dirs.size - before.size)
    // no duplicate ids survived the move, and counts respect the split
    val stored = ps.readPart("emb").get
    assert(stored.count() == 100L)
    assert(stored.select("entity_id").distinct().count() == 100L)
    // pruned retrieval over the post-split index: plan prunes by pindex,
    // results equal the unpruned stored scan over the same rows
    val queries = clustered.filter(col("vec_id") % 10 === 0)
    val pruned = Similarity.ivfTopKStoredPruned(queries, ps, "emb",
      "vec_id", "embedding", newCents, k = 3, nProbe = 2)
    val scan = pruned.queryExecution.executedPlan.toString
      .linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("pindex"), s"no pindex partition filter: $scan")
    val full = Similarity.ivfTopKStored(queries,
      stored.select(col("entity_id").as("vec_id"), col("embedding"),
        col("bucket")),
      "vec_id", "embedding", "bucket", newCents, k = 3, nProbe = 2)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("query_id", "rank").collect().map(_.toSeq).toSeq
    assert(rows(pruned) == rows(full))
  }

  test("graphCompact prunes every node to its exact top-k by cosine") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_gcmp_").toString
    val es = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(s"$work/e", 50, keyCols = Seq("entity_id", "dst")))
    val vs = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(s"$work/v", 50, keyCols = Seq("entity_id")))
    def insert(b: org.apache.spark.sql.DataFrame): Unit =
      Similarity.graphInsertBatch(es, vs, "g", b, "vec_id", "embedding",
        k = 4, beam = 8, hops = 2, entries = 3, seedBits = 3)
    insert(clustered.filter(col("vec_id") < 50))
    insert(clustered.filter(col("vec_id") >= 50))
    val before = Similarity.readGraphIndex(es, vs, "g")._1
      .as[(Long, Long)].collect().toSet
    val maxDegBefore = before.groupBy(_._1).values.map(_.size).max
    assert(maxDegBefore > 4, s"fixture never accrued degree > 4 ($maxDegBefore)")
    Similarity.graphCompact(es, vs, "g", k = 4)
    val (g, v) = Similarity.readGraphIndex(es, vs, "g")
    val after = g.as[(Long, Long)].collect().toSet
    val vecs = v.collect().map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    def cosD(a: Seq[Float], b: Seq[Float]): Double = {
      val d = a.zip(b).map { case (x, y) => x.toDouble * y.toDouble }.sum
      d / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    // kept edges per node == the top-4 of that node's PRE-compaction
    // neighbors under the exact (cos desc, dst) order
    before.groupBy(_._1).foreach { case (src, es0) =>
      val want = es0.toSeq.map(_._2)
        .sortBy(dst => (-cosD(vecs(src), vecs(dst)), dst)).take(4).toSet
      val got = after.filter(_._1 == src).map(_._2)
      assert(got == want, s"node $src kept $got, expected $want")
    }
    // idempotent: a second compaction changes nothing
    Similarity.graphCompact(es, vs, "g", k = 4)
    assert(Similarity.readGraphIndex(es, vs, "g")._1
      .as[(Long, Long)].collect().toSet == after)
  }

  test("graphInsertBatchLayered: stored index serves layered search, recall >= flat") {
    import spark.implicits._
    val work = java.nio.file.Files.createTempDirectory("graft_glay_").toString
    val es = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(s"$work/e", 50, keyCols = Seq("entity_id", "dst")))
    val vs = new graft.storage.PartStore(spark,
      graft.storage.PartStoreConfig(s"$work/v", 50, keyCols = Seq("entity_id")))
    def insert(b: org.apache.spark.sql.DataFrame): Unit =
      Similarity.graphInsertBatchLayered(es, vs, "g", b, "vec_id", "embedding",
        k = 4, beam = 8, hops = 2, entries = 3, seedBits = 3, denom = 4)
    insert(clustered.filter(col("vec_id") < 50))
    insert(clustered.filter(col("vec_id") >= 50))
    val (g0, g1, v) = Similarity.readGraphIndexLayered(es, vs, "g")
    // the coarse layer holds exactly the md5-level subset's nodes
    val coarseIds = Similarity.coarseLayerNodes(clustered, "vec_id", 4)
      .as[Long].collect().toSet
    val g1Nodes = g1.select("query_id").as[Long].collect().toSet ++
      g1.select("neighbor_id").as[Long].collect().toSet
    assert(g1Nodes.subsetOf(coarseIds), "coarse graph has non-coarse nodes")
    assert(g1Nodes.nonEmpty)
    val queries = clustered.filter(col("vec_id") % 10 === 0)
    val vAsEmb = v.select(col("entity_id").as("vec_id"), col("vec").as("embedding"))
    val exact = Similarity.bruteForceTopK(queries, clustered,
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    def recall(got: Set[(Long, Long)]): Double =
      exact.count(got.contains).toDouble / exact.size
    val layered = recall(Similarity.graphSearchLayered(queries, g0, g1, vAsEmb,
        "vec_id", "embedding", k = 3, beam = 8, hops = 2, entries = 3,
        beam1 = 4, hops1 = 2, seedBits = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    val flat = recall(Similarity.graphSearch(queries, g0, vAsEmb,
        "vec_id", "embedding", k = 3, beam = 8, hops = 2, entries = 3,
        seedBits = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet)
    // the layered entry points must not LOSE recall vs flat seeding on
    // the same stored graph (LayeredSweep measures the eval savings)
    assert(layered >= flat - 1e-9 && layered >= 0.6,
      s"stored layered recall $layered vs flat $flat")
    // idempotent replay maintains both layers
    val n1 = g1.count()
    insert(clustered.filter(col("vec_id") >= 50))
    assert(Similarity.readGraphIndexLayered(es, vs, "g")._2.count() >= n1)
  }

  test("OPQ permutation: true permutation, partition-invariant, spreads variance") {
    // variance-skewed fixture: dims 0..3 dominate — under identity
    // grouping all four land in subspace 0 and starve the others
    val rnd = new scala.util.Random(7)
    val vs = (0 until 200).map { i =>
      (i.toLong, (0 until dim).map { d =>
        if (d < 4) (10.0 * rnd.nextGaussian()).toFloat
        else (0.1 * rnd.nextGaussian()).toFloat
      })
    }.toDF("vec_id", "embedding")
    val perm = Similarity.opqPermutation(vs, "embedding", m = 4, dim = dim)
    assert(perm.sorted == (0 until dim)) // orthogonal: a true permutation
    assert(perm == Similarity.opqPermutation(
      vs.repartition(7), "embedding", m = 4, dim = dim))
    // snake allocation sends the 4 high-variance dims to 4 DISTINCT subspaces
    val sub = dim / 4
    val hiSub = (0 until dim).filter(p => perm(p) < 4).map(_ / sub)
    assert(hiSub.distinct.length == 4, s"high-variance dims clumped: $hiSub")
    // inner products are permutation-invariant → the RANKING is unchanged
    // (cos agrees to the last ulp or two: summation ORDER moved, so exact
    // bit-equality of the double fold is not guaranteed — compare ranks)
    val p = Similarity.permuteVectors(vs, "embedding", perm)
    def top(df: org.apache.spark.sql.DataFrame) =
      Similarity.bruteForceTopK(df.filter(col("vec_id") < 5), df,
        "vec_id", "embedding", 3).orderBy("query_id", "rank")
        .select("query_id", "neighbor_id", "rank")
        .collect().map(_.toSeq).toSeq
    assert(top(vs) == top(p))
  }

  test("OPQ PCA rotation: orthogonal, deterministic, recon error <= residual-PQ") {
    // correlated fixture: cluster centers + noise along two fixed DENSE
    // directions straddling every subspace block — axis-aligned PQ blocks
    // see correlated marginals, a PCA rotation concentrates the noise
    val rnd = new scala.util.Random(13)
    val centers = Seq.fill(4)(Array.fill(dim)(rnd.nextGaussian()))
    val dir1 = Array.fill(dim)(rnd.nextGaussian())
    val dir2 = Array.fill(dim)(rnd.nextGaussian())
    val vs = (0 until 240).map { i =>
      val c = centers(i % 4)
      val (g1, g2) = (rnd.nextGaussian(), rnd.nextGaussian())
      (i.toLong, (0 until dim).map(d =>
        (c(d) + 0.8 * g1 * dir1(d) + 0.8 * g2 * dir2(d) +
          0.02 * rnd.nextGaussian()).toFloat))
    }.toDF("vec_id", "embedding")
    val rot = Similarity.opqRotationPca(vs, "vec_id", "embedding", m = 4, dim = dim)
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(t => rot(i)(t).toDouble * rot(j)(t).toDouble).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-3,
        s"R·Rᵀ[$i][$j] = $d — rows not orthonormal")
    }
    assert(rot == Similarity.opqRotationPca(vs, "vec_id", "embedding", 4, dim))
    // reconstruction error of residual-PQ, in raw vs PCA-rotated space —
    // orthogonality makes the two errors directly comparable
    def reconErr(frame: org.apache.spark.sql.DataFrame): Double = {
      val cents = Similarity.ivfCentroidsRefined(frame, "vec_id", "embedding", 4)
      val cbs = Similarity.pqCodebooksResidual(frame, "vec_id", "embedding",
        cents, m = 4, k = 8, dim = dim)
      val assignCell = Similarity.driverAssign(cents)
      val cmap = cents.toMap
      val sub = dim / 4
      frame.collect().map(_.getSeq[Float](1).toSeq).map { v =>
        val c = cmap(assignCell(v))
        val res = v.zip(c).map { case (x, y) => x - y }
        val rec = (0 until 4).flatMap { j =>
          val s = res.slice(j * sub, (j + 1) * sub)
          cbs(j).toMap.apply(Similarity.driverAssign(cbs(j))(s))
        }
        v.zip(c.zip(rec).map { case (x, y) => x + y })
          .map { case (x, y) => val d = x.toDouble - y.toDouble; d * d }.sum
      }.sum
    }
    val rawErr = reconErr(vs)
    val opqErr = reconErr(Similarity.rotateVectors(vs, "embedding", rot))
    assert(opqErr <= rawErr,
      s"OPQ-rotated residual-PQ recon $opqErr worse than raw residual-PQ $rawErr")

    // non-parametric alternation: starts at the parametric rotation and
    // descends the actual quantization objective — plain-PQ recon error
    // must not exceed the parametric rotation's, and R stays orthonormal
    def plainErr(rm: Seq[Seq[Float]], cb: Seq[Seq[(Int, Seq[Float])]]): Double = {
      val sub2 = dim / 4
      vs.collect().map(_.getSeq[Float](1).toSeq).map { v =>
        val rv = rm.map(row =>
          row.zip(v).foldLeft(0.0) { case (s, (w, x)) =>
            s + w.toDouble * x.toDouble }.toFloat)
        val rec = (0 until 4).flatMap { j =>
          val s = rv.slice(j * sub2, (j + 1) * sub2)
          cb(j).toMap.apply(Similarity.driverAssign(cb(j))(s))
        }
        rv.zip(rec).map { case (x, y) =>
          val d = x.toDouble - y.toDouble; d * d }.sum
      }.sum
    }
    val paramCbs = Similarity.pqCodebooksRefined(
      Similarity.rotateVectors(vs, "embedding", rot), "vec_id", "embedding",
      m = 4, k = 8, dim = dim)
    val (npRot, npCbs) = Similarity.opqRotationNonParametric(
      vs, "vec_id", "embedding", m = 4, k = 8, dim = dim, iters = 6)
    for (i <- 0 until dim; j <- 0 until dim) {
      val d = (0 until dim).map(t => npRot(i)(t).toDouble * npRot(j)(t).toDouble).sum
      assert(math.abs(d - (if (i == j) 1.0 else 0.0)) < 1e-3,
        s"non-parametric R·Rᵀ[$i][$j] = $d")
    }
    val paramErr = plainErr(rot, paramCbs)
    val npErr = plainErr(npRot, npCbs)
    assert(npErr <= paramErr * 1.001,
      s"non-parametric OPQ $npErr worse than parametric $paramErr")
  }

  test("mmrDiversify == the sequential greedy reference loop") {
    import spark.implicits._
    // deterministic 2-D fixture: 12 candidates on varied directions
    val vecs = (0 until 12).map { i =>
      val ang = 0.3 + 0.45 * i
      (i.toLong, Array(math.cos(ang).toFloat, math.sin(ang).toFloat))
    }
    val vdf = vecs.toDF("vec_id", "embedding")
    def cosD(a: Array[Float], b: Array[Float]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s / (math.sqrt(a.map(x => x.toDouble * x.toDouble).sum) *
        math.sqrt(b.map(x => x.toDouble * x.toDouble).sum))
    }
    val byId = vecs.toMap
    // shortlists for two "queries" (ids 0 and 6): every other candidate
    val cand = for {
      q <- Seq(0L, 6L); c <- vecs.map(_._1) if c != q
    } yield (q, c, cosD(byId(q), byId(c)))
    val candDf = cand.toDF("query_id", "neighbor_id", "rel")
    val got = Similarity.mmrDiversify(candDf, vdf, "vec_id", "embedding",
        k = 4, lambda = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
      .groupBy(_._1).map { case (q, xs) =>
        q -> xs.sortBy(_._3).map(_._2).toSeq }
    // sequential reference: argmax 0.5*rel - 0.5*max-sim-to-selected
    def ref(q: Long): Seq[Long] = {
      val pool = cand.filter(_._1 == q).map(x => x._2 -> x._3).toMap
      var sel = Seq.empty[Long]
      (1 to 4).foreach { _ =>
        val rem = pool.keys.filterNot(sel.contains).toSeq
        val best = rem.minBy { c =>
          val pen = if (sel.isEmpty) 0.0 else sel.map(s1 => cosD(byId(c), byId(s1))).max
          val score = if (sel.isEmpty) pool(c) else 0.5 * pool(c) - 0.5 * pen
          (-score, c)
        }
        sel = sel :+ best
      }
      sel
    }
    assert(got(0L) == ref(0L), s"q0: ${got(0L)} vs ${ref(0L)}")
    assert(got(6L) == ref(6L), s"q6: ${got(6L)} vs ${ref(6L)}")
    // the diversity term actually bites: pure-relevance order differs
    val pureRel = cand.filter(_._1 == 0L).sortBy(x => (-x._3, x._2))
      .take(4).map(_._2)
    assert(got(0L) != pureRel, "MMR should reorder vs pure relevance")
  }

  test("rrfFuse: hand-computed fusion, tie-break by id, single-list pairs kept") {
    import spark.implicits._
    // query 1: ranking A has (10,1),(11,2); ranking B has (11,1),(12,2)
    val ra = Seq((1L, 10L, 1), (1L, 11L, 2)).toDF("query_id", "neighbor_id", "rank")
    val rb = Seq((1L, 11L, 1), (1L, 12L, 2)).toDF("query_id", "neighbor_id", "rank")
    val out = Similarity.rrfFuse(Seq(ra, rb), k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
      .sortBy(_._3)
    // 11 appears in both: 1/62 + 1/61 wins; 10 (1/61) and 12 (1/62) follow;
    // 10 before 12 because its reciprocal is larger
    assert(out.map(x => (x._2, x._3)).toSeq ==
      Seq((11L, 1), (10L, 2), (12L, 3)), out.toSeq)
    assert(math.abs(out(0)._4 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    // equal single-list scores tie-break by neighbor id: two pairs at the
    // same rank in different rankings
    val rc = Seq((2L, 30L, 1)).toDF("query_id", "neighbor_id", "rank")
    val rd = Seq((2L, 20L, 1)).toDF("query_id", "neighbor_id", "rank")
    val tied = Similarity.rrfFuse(Seq(rc, rd), k = 2)
      .collect().map(r => (r.getLong(1), r.getInt(2))).sortBy(_._2)
    assert(tied.toSeq == Seq((20L, 1), (30L, 2)), tied.toSeq)
  }

  test("multiProbeTopK: Hamming-1 probes recover the cross-bucket neighbor") {
    // q's sign bits are all 1; v flips exactly bit 0 (elements 1,2
    // swapped) yet stays cosine-close — a single-bucket probe can never
    // see it, the 1-bit perturbation must
    val q = Array.tabulate(dim)(i => if (i % 2 == 0) 2f else 1f)
    val v = q.clone(); v(0) = 1f; v(1) = 2f
    val w = q.map(_ * 1.1f) // same bucket as q, cos = 1
    val df = Seq((1L, q.toSeq), (2L, v.toSeq), (3L, w.toSeq))
      .toDF("vec_id", "embedding")
    val b = df.select(
      Similarity.hyperplaneBucket(org.apache.spark.sql.functions.col("embedding"), 8))
      .collect().map(_.getLong(0))
    assert(b(0) == b(2) && Integer.bitCount((b(0) ^ b(1)).toInt) == 1)
    val r = Similarity.multiProbeTopK(df.filter($"vec_id" === 1L), df,
        "vec_id", "embedding", nBits = 8, k = 5)
      .collect().map(x => x.getAs[Long]("neighbor_id") -> x.getAs[Int]("rank"))
      .toMap
    assert(r(3L) == 1, s"same-bucket exact match must rank first: $r")
    assert(r.contains(2L), s"Hamming-1 neighbor must be recovered: $r")
  }
}
