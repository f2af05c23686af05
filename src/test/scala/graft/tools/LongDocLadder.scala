package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{CorpusClean, Dedup, TextAnalysis}

/** Long-doc stress rung (r15 verdict item 2). The sf ladder scales doc
  * COUNT, so per-doc-quadratic shapes — exactly the r15 winnowing
  * resolver bug — are structurally invisible to it: fixture doc length
  * never grows with sf. This probe scales doc LENGTH at FIXED count:
  * `docs` synthetic documents at L and 4L tokens, each per-doc operator
  * timed at both lengths, exponent = log(t_4L / t_L) / log 4. A
  * length-linear operator reads ≈1 (minus fixed overhead); the
  * pre-fix resolver would read ≈2.
  *
  * Synthesis is DETERMINISTIC (hash-mixed 50k vocab, no RNG): doc pairs
  * (2i, 2i+1) share their first `sharedRun` tokens so winnowing /
  * pair / keeper stages have real matches, the tail is per-doc unique.
  * suffixDupSpans runs its own shorter rung (4096 → 16384 under
  * rounds=14) because its position cap 2^rounds ≤ 65536 would clip a
  * 10⁵-token doc and flatten the exponent artificially.
  *
  * Run: `sbt "Test/runMain graft.tools.LongDocLadder [L] [docs]"`
  * (defaults L=25000 → 100k-token docs on the big rung, 32 docs).
  */
object LongDocLadder {
  def main(args: Array[String]): Unit = {
    val baseL = args.headOption.map(_.toInt).getOrElse(25000)
    val nDocs = args.lift(1).map(_.toInt).getOrElse(32)
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")

    // doc pair (2i, 2i+1) shares its first `sharedRun` tokens (seed =
    // doc_id/2); everything after is seeded by the doc itself
    def gen(l: Int, sharedRun: Int = 200): DataFrame =
      spark.range(nDocs).select(col("id").as("doc_id"),
        expr(
          s"""array_join(transform(sequence(0, ${l - 1}), j ->
             |  concat('w', pmod(hash(
             |    CASE WHEN j < $sharedRun THEN id DIV 2 ELSE id + 1000000 END,
             |    j), 50021))), ' ')""".stripMargin).as("text"))
        .localCheckpoint() // timings measure the operator, not the synth

    def time(f: => Long): (Double, Long) = {
      val t0 = System.nanoTime()
      val n = f
      ((System.nanoTime() - t0) / 1e9, n)
    }

    def rung(name: String, l1: Int, ratio: Int)(op: DataFrame => Long): Unit = {
      val d1 = gen(l1); d1.count()
      val d2 = gen(l1 * ratio); d2.count()
      // min of two runs per rung: local[32] scheduling noise
      val (ta, na) = time(op(d1)); val (tb, _) = time(op(d1))
      val (tc, nc) = time(op(d2)); val (td, _) = time(op(d2))
      val t1 = math.min(ta, tb); val t2 = math.min(tc, td)
      val exp = math.log(t2 / t1) / math.log(ratio.toDouble)
      println(f"$name%-24s L=$l1%6d t=$t1%7.2fs (rows=$na%8d)  " +
        f"${ratio}xL t=$t2%7.2fs (rows=$nc%8d)  exp=$exp%5.2f")
      d1.unpersist(); d2.unpersist()
    }

    println(s"long-doc ladder: $nDocs docs, base L=$baseL, ratio 4x")
    rung("winnow_fingerprints", baseL, 4)(d =>
      Dedup.winnowFingerprints(d, "doc_id", "text", k = 4, w = 5).count())
    rung("winnow_pairs", baseL, 4)(d =>
      Dedup.winnowPairs(
        Dedup.winnowFingerprints(d, "doc_id", "text", k = 4, w = 5),
        minShared = 2, maxDocFreq = 50).count())
    rung("winnow_keepers", baseL, 4)(d =>
      Dedup.winnowKeepers(d, "doc_id", "text", k = 4, w = 5,
        minShared = 2, maxDocFreq = 50, tauNum = 1, tauDen = 100).count())
    rung("texttiling", baseL, 4)(d =>
      TextAnalysis.textTileBoundaries(d, "doc_id", "text", blockSize = 10)
        .count())
    // position cap 2^rounds: run the suffix rung inside it
    rung("suffix_dup_spans", 4096, 4)(d =>
      Dedup.suffixDupSpans(d, "doc_id", "text", minLen = 8, rounds = 14)
        .count())
    rung("bpe_vocab", baseL, 4)(d =>
      TextAnalysis.bpeVocab(d, "doc_id", "text", nMerges = 8).count())
    rung("pack_sequences", baseL, 4)(d =>
      CorpusClean.packSequences(d, "doc_id", "text",
        budget = 2048, shards = 8).count())
    rung("turn_truncate", baseL, 4)(d =>
      TextAnalysis.turnTruncate(d, "doc_id", "text",
        budget = 4096, maxTurns = baseL * 2).count())
    spark.stop()
  }
}
