package graft.tools


/** Ad-hoc single-query timing on the Bench session (`SPARK_GRAFT_CPUS`
  * cores, default 32; min of two warm repetitions after a cold run):
  * `sbt "Test/runMain graft.tools.TimeQuery <sfDir> <q1,q2,...>"` —
  * the focused loop for checking one gate's cost without paying the
  * full-inventory bench. */
object TimeQuery {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq)
      .getOrElse(Seq.empty)
    val spark = graft.Session.local(graft.Session.cores(32))
    spark.sparkContext.setLogLevel("ERROR")
    for (n <- names) {
      val fn = graft.SparkEntry.queries(n)
      def once(): Double = {
        val t0 = System.nanoTime()
        fn(spark, sfDir).count()
        (System.nanoTime() - t0) / 1e9
      }
      val cold = once()
      val warm = math.min(once(), once())
      println(f"$n%-28s cold $cold%7.2f s  warm $warm%7.2f s")
    }
    spark.stop()
  }
}
