package graft.tools

import org.apache.spark.sql.functions._

import graft.operators.TemporalOps

/** Composed (union + running window) vs native (streaming merge) as-of
  * join on generated data — the measured basis for the asofJoinNative
  * claim in PLANS.md. Sizes via args: [leftRows rightRows keys]. */
object AsofPerfProbe {
  def main(args: Array[String]): Unit = {
    val nL = args.headOption.map(_.toLong).getOrElse(5000000L)
    val nR = args.lift(1).map(_.toLong).getOrElse(500000L)
    val nK = args.lift(2).map(_.toLong).getOrElse(1000L)
    val spark = graft.Session.local(graft.Session.cores(8))
    spark.sparkContext.setLogLevel("ERROR")
    val left = spark.range(nL).select(
      (col("id") % nK).as("k"),
      pmod(col("id") * 2654435761L, lit(10000000L)).as("t"),
      col("id").as("lid")).localCheckpoint()
    val right = spark.range(nR).select(
      (col("id") % nK).as("k"),
      pmod(col("id") * 1099511628211L, lit(10000000L)).as("rt"),
      (col("id") * 7).as("payload"))
      .groupBy("k", "rt").agg(max("payload").as("payload")).localCheckpoint()
    // a bare count() would let Catalyst ELIDE the composed path's window
    // (unreferenced window exprs are pruned) — aggregate over the joined
    // columns so both paths pay the full join, and the checksums double
    // as a large-scale differential check
    def time(tag: String)(df: => org.apache.spark.sql.DataFrame): (Long, Long, Long) = {
      val t0 = System.nanoTime()
      val r = df.agg(count(lit(1)), sum(col("asof_ts")), sum(col("payload"))).head()
      val s = (System.nanoTime() - t0) / 1e9
      val out = (r.getLong(0), r.getLong(1), r.getLong(2))
      println(f"$tag%-9s rows=${out._1} sum_ts=${out._2} ${s}%6.2f s")
      out
    }
    // warmup both paths once
    TemporalOps.asofJoin(left.limit(1000), right.limit(1000), Seq("k"), "t", "rt").count()
    TemporalOps.asofJoinNative(left.limit(1000), right.limit(1000), Seq("k"), "t", "rt").count()
    val a = time("composed")(TemporalOps.asofJoin(left, right, Seq("k"), "t", "rt"))
    val b = time("native")(TemporalOps.asofJoinNative(left, right, Seq("k"), "t", "rt"))
    assert(a == b, s"checksum divergence: $a vs $b")
    spark.stop()
  }
}
