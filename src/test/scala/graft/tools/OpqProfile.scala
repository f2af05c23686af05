package graft.tools

import org.apache.spark.sql.functions._

import graft.functions.Similarity

/** Phase attribution for q103_opq_adc_topk — the bench's slowest
  * entry: how much is OPQ permutation search, codebook training,
  * corpus encode, and the ADC scan+rerank itself? */
object OpqProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.local(graft.Session.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    val e = graft.Tables.load(spark, sfDir, "embeddings").localCheckpoint()
    def t[A](tag: String)(f: => A): A = {
      val t0 = System.nanoTime(); val a = f
      println(f"$tag%-12s ${(System.nanoTime() - t0) / 1e9}%6.2f s"); a
    }
    val perm = t("permute") { Similarity.opqPermutation(e, "embedding", m = 8, dim = 64) }
    val p = Similarity.permuteVectors(e, "embedding", perm).localCheckpoint()
    val cbs = t("train") { Similarity.pqCodebooksRefined(p, "vec_id", "embedding",
      m = 8, k = 256, dim = 64, sampleN = 8192) }
    val codes = t("encode") {
      Similarity.pqEncodeArray(p, "vec_id", "embedding", cbs).localCheckpoint() }
    t("adc+rerank") {
      Similarity.adcTopKArray(p.filter(col("vec_id") % 100 === 0), codes, p,
        "vec_id", "embedding", cbs, k = 5, shortlist = 50).count() }
    spark.stop()
  }
}
