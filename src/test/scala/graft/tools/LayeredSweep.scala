package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Parameter sweep for graphSearchLayered vs flat graphSearch on the
  * clustered spec fixture: find (denom, beam1, hops1, layer-0 hops)
  * where layered recall >= flat at fewer scored candidates. */
object LayeredSweep {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.local(graft.Session.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    val dim = 16
    val rnd = new scala.util.Random(7)
    val centers = Seq.fill(8)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val clustered = (0 until 800).map { i =>
      val c = centers(i % 8)
      (i.toLong, c.map(x => x + 0.08f * rnd.nextGaussian().toFloat).toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint()

    val g0 = Similarity.nnDescent(clustered, "vec_id", "embedding",
      k = 4, iterations = 1, initBits = 3).localCheckpoint()
    val exact = Similarity.bruteForceTopK(clustered, clustered,
        "vec_id", "embedding", 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet

    def flat(beam: Int, hops: Int, seedBits: Int): (Double, Long) = {
      val st = new Similarity.SearchStats
      val got = Similarity.graphSearch(clustered, g0, clustered,
          "vec_id", "embedding", k = 3, beam = beam, hops = hops,
          entries = 3, seedBits = seedBits, stats = Some(st))
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      (exact.count(got.contains).toDouble / exact.size, st.evals)
    }
    for ((beam, hops) <- Seq((8, 2), (8, 3))) {
      val (r, ev) = flat(beam, hops, 3)
      println(f"flat beam=$beam hops=$hops recall=$r%.3f evals=$ev")
    }
    for (denom <- Seq(4, 8); sb <- Seq(0, 3); hops1 <- Seq(1, 2);
         beam1 <- Seq(3, 6); hops <- Seq(1, 2, 3)) {
      val sub = clustered.join(
        Similarity.coarseLayerNodes(clustered, "vec_id", denom)
          .select(col("id").as("vec_id")), Seq("vec_id"), "left_semi")
      val g1 = Similarity.nnDescent(sub, "vec_id", "embedding",
        k = 4, iterations = 1, initBits = 3).localCheckpoint()
      val st = new Similarity.SearchStats
      val got = Similarity.graphSearchLayered(clustered, g0, g1, clustered,
          "vec_id", "embedding", k = 3, beam = 8, hops = hops, entries = 3,
          beam1 = beam1, hops1 = hops1, seedBits = sb, stats = Some(st))
        .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
      val r = exact.count(got.contains).toDouble / exact.size
      println(f"layered denom=$denom sb=$sb beam1=$beam1 hops1=$hops1 hops=$hops " +
        f"recall=$r%.3f evals=${st.evals}")
    }
    spark.stop()
  }
}
