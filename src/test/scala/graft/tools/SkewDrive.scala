package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, AQEShuffleReadExec, QueryStageExec}
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import graft.functions.{Dedup, TextAnalysis}

/** Round-7 skew evidence (PLANS.md): drives the q75 duplicated-gram join
  * and the q80 SimHash band join over a deliberately Zipf-skewed corpus
  * ~10× the sf0.1 gate corpus (50k docs vs 5k) and reports what ACTUALLY
  * absorbs the skew. Findings this tool produced (recorded in PLANS.md):
  *
  * 1. AQE's skew-join rule splits only joins whose children are BARE
  *    shuffle stages (optionally under a Sort). The dup-gram join
  *    finishes its count aggregate between the shuffle and the join, so
  *    the rule never matches that shape — the `bare_gram_join` case
  *    below splits, the q75 shape does not.
  * 2. Byte-based skew detection reads COMPRESSED map-output sizes; a hot
  *    key of near-identical rows LZ4-flattens and hides. Compression is
  *    disabled here so bytes track rows.
  * 3. The fix that holds for the q75 shape is the deterministic salted
  *    join now in `Dedup.coveredPositions` (salt=16 default): this tool
  *    prints the max/median reduce-partition row spread unsalted vs
  *    salted.
  *
  * Skew thresholds are lowered to emulate cluster-scale partition sizes
  * at local volumes; the ratio semantics are Spark's own.
  *
  * Run: sbt -batch "Test/runMain graft.tools.SkewDrive"
  */
object SkewDrive {
  private def finalPlan(p: SparkPlan): SparkPlan = p match {
    case a: AdaptiveSparkPlanExec => a.executedPlan
    case other => other
  }

  /** Full traversal: QueryStageExec nodes are leaves to `collect`, so an
    * AQE plan's joins hide inside stages unless we descend explicitly. */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: (p match {
      case a: AdaptiveSparkPlanExec => allNodes(a.executedPlan)
      case q: QueryStageExec => allNodes(q.plan)
      case other => other.children.flatMap(allNodes)
    })

  /** Execute and report (skew-join count, skewed partitions, splits).
    * Executes df's OWN QueryExecution (toRdd) — df.count() would build a
    * separate execution and leave this plan's AQE un-finalized with zero
    * metrics. */
  private def drive(name: String, df: DataFrame): Unit = {
    val t0 = System.nanoTime()
    val n = df.queryExecution.toRdd.count()
    val secs = (System.nanoTime() - t0) / 1e9
    val plan = finalPlan(df.queryExecution.executedPlan)
    val nodes = allNodes(plan)
    val skewJoins = nodes.count {
      case s: SortMergeJoinExec => s.isSkewJoin
      case s: ShuffledHashJoinExec => s.isSkewJoin
      case _ => false
    }
    val (skewedParts, skewedSplits) = nodes.collect {
      case r: AQEShuffleReadExec =>
        (r.metrics.get("numSkewedPartitions").map(_.value).getOrElse(0L),
          r.metrics.get("numSkewedSplits").map(_.value).getOrElse(0L))
    }.foldLeft((0L, 0L)) { case ((a, b), (x, y)) => (a + x, b + y) }
    println(f"$name%-22s rows=$n%-9d ${secs}%.1fs skewJoins=$skewJoins " +
      s"skewedPartitions=$skewedParts skewedSplits=$skewedSplits")
    if (sys.env.contains("SKEW_DRIVE_PLAN")) println(plan.toString)
  }

  /** Max vs median rows per output partition — join-input skew, since
    * each occurrence row survives the dup-gram join at most once. */
  private def spread(name: String, df: DataFrame): Unit = {
    val counts = df.groupBy(spark_partition_id().as("p")).count()
      .select(col("count")).collect().map(_.getLong(0)).sorted
    val max = counts.last
    val med = counts(counts.length / 2)
    println(s"$name: partitions=${counts.length} maxRows=$max medianRows=$med " +
      f"ratio=${max.toDouble / med}%.1f")
  }

  def main(args: Array[String]): Unit = {
    val nDocs = args.headOption.map(_.toLong).getOrElse(50000L)
    // uncompressed shuffle blocks, so the skew thresholds below are in
    // row bytes; core confs are fixed at context start, hence sys.props
    sys.props("spark.shuffle.compress") = "false"
    sys.props("spark.shuffle.spill.compress") = "false"
    val spark = graft.Session.local(graft.Session.cores(8))
    Seq(
      "spark.sql.shuffle.partitions" -> "64",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "256k",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "64k",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1"
    ).foreach { case (k, v) => spark.conf.set(k, v) }

    // Zipf-skewed corpus: every doc carries 4 unique filler tokens; a
    // geometric (Zipf-like) share additionally carries one of 8 promo
    // tails — tail 0 on ~half the corpus, halving per rank. Duplicated
    // grams (the q75 join key) and near-identical token multisets (the
    // q80 band keys) therefore concentrate on a few massively-hot keys.
    val tails = (0 until 8).map(t =>
      (0 until 12).map(w => s"promo${t}_w$w").mkString(" "))
    val u = (pmod(xxhash64(col("doc_id")), lit(1000000L)).cast("double") +
      lit(1.0)) / lit(1000001.0)
    val tailIdx = least(floor(-log(2.0, u)).cast("int"), lit(7))
    val filler = concat_ws(" ", (0 until 4).map(p =>
      concat(lit("u"), pmod(col("doc_id") * 31 + lit(p), lit(200000L))
        .cast("string"))): _*)
    val docs = spark.range(nDocs).select(col("id").as("doc_id"),
        concat(filler, lit(" "),
          element_at(typedlit(tails), tailIdx + 1)).as("text"))
      .localCheckpoint() // freeze the corpus; measure the operators only

    println(s"corpus: $nDocs docs, tail ranks geometric (P(r)=2^-(r+1))")
    val tokens = TextAnalysis.tokens(docs, "doc_id", "text")

    // ---- 1. AQE skew-join DOES fire when the join children are bare
    // shuffle stages: raw gram occurrences vs a plain (non-aggregated)
    // gram dictionary ----
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val occ = tokens.select(col("doc_id"), col("pos"),
        concat_ws(" ", (0 until 8).map {
          case 0 => col("tok")
          case i => lead(col("tok"), i).over(w)
        }: _*).as("__g"),
        lead(col("tok"), 7).over(w).isNotNull.as("__full"))
      .filter(col("__full")).drop("__full")
    import spark.implicits._
    val dict = tails.flatMap(t => t.split(" ").sliding(8).map(_.mkString(" ")))
      .toSeq.toDF("__g")
    drive("bare_gram_join", occ.join(dict, "__g"))

    // ---- 2. the q75 shape: count-aggregate between shuffle and join →
    // AQE rule can never match; the salted join is what spreads the hot
    // grams (identical results, spec-asserted) ----
    drive("q75_dup_spans_salt1",
      Dedup.duplicatedSpans(tokens, "doc_id", 8, salt = 1))
    drive("q75_dup_spans_salt16",
      Dedup.duplicatedSpans(tokens, "doc_id", 8, salt = 16))

    // reduce-partition row spread of the gram join itself
    val dupGrams = occ.groupBy("__g").agg(count(lit(1)).as("__c"))
      .filter(col("__c") > 1).select("__g")
    spread("gram_join_unsalted", occ.join(dupGrams, "__g"))
    spread("gram_join_salt16", occ
      .withColumn("__s", pmod(xxhash64(col("doc_id"), col("pos")), lit(16L)))
      .join(dupGrams.withColumn("__s",
        explode(sequence(lit(0L), lit(15L)))), Seq("__g", "__s")))

    // ---- 3. q80 band join AT THE GATE CAP — on near-duplicate-heavy
    // corpora the maxBucket cap (not AQE) is the primary defense:
    // uncapped, the hot band buckets pair quadratically (65M pairs on
    // this corpus, measured) no matter how the shuffle splits ----
    drive("q80_simhash_bands",
      Dedup.simhashNearDups(Dedup.simhash(tokens, "doc_id"),
        "doc_id", maxHam = 3, maxBucket = 200))

    spark.stop()
  }
}
