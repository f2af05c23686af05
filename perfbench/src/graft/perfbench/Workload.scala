package graft.perfbench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** One timed operation: `primary` operations are the workload's unit of
  * latency (a batch); `run` returns the work items it completed (counter
  * rows or documents). */
final case class Op(name: String, primary: Boolean, run: () => Long)

/** An output check: run after the timed phase, outside it. */
final case class Check(name: String, passed: Boolean, detail: String)

/** A benchmark workload. Inputs derive from the seed alone; the library
  * only ever sees the generated inputs. */
trait Workload {
  /** Label for the human-readable report: what an item is ("rows" /
    * "documents"). */
  def itemLabel: String

  /** Generate inputs under `dir` and create the stores. Called several
    * times with fresh directories; the last call's state is used. */
  def setup(dir: String): Unit

  /** Prebuild and run the timed phase's operations, untimed, on the last
    * set-up's state: caches, JIT and Spark's generated code warm up. */
  def warmUp(): Unit

  /** Input sizes and a fingerprint of the generated inputs. */
  def inputSummary: String
  def fingerprint: String

  /** The next round: one primary operation and the operations that follow
    * it, or None when the input pool is used up. */
  def next(): Option[Seq[Op]]

  def checks(): Seq[Check]

  /** Where the product's stores live, and the input bytes it was given. */
  def storeDir: String
  def inputBytes: Long

  /** recall@10 against exact top-k where the workload serves approximate
    * answers; 1.0 where every answer is checked exactly. */
  def answerQuality: Double

  /** Layer metrics only the workload can measure (added to the trace). */
  def layerExtras: Map[String, Double] = Map.empty
}

object Workload {
  /** An empty entity dimension (name, id): every name resolves by hash, as
    * in `cli.Main load-data`. */
  def emptyDimension(spark: org.apache.spark.sql.SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("name", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("id", org.apache.spark.sql.types.LongType))))

  /** A reproducible random stream per (seed, purpose, index). */
  def rng(seed: Long, salt: Long*): java.util.SplittableRandom =
    new java.util.SplittableRandom(salt.foldLeft(seed * 0x9E3779B97F4A7C15L) {
      (h, s) => java.lang.Long.rotateLeft(h ^ (s * 0xC2B2AE3D27D4EB4FL), 31) * 0x165667B19E3779F9L
    })

  /** Order-independent (rows, hash) digest of a frame's content. */
  def digest(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(df.columns.map(col).toIndexedSeq: _*).cast("long")), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Order-independent digest of collected rows. */
  def digest(rows: Seq[Row]): (Long, Long) =
    (rows.length.toLong, rows.map(r => r.toSeq.map(String.valueOf).mkString("|").hashCode.toLong).sum)

  def sha(bytes: Iterator[Array[Byte]]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    bytes.foreach(md.update)
    md.digest().take(8).map("%02x".format(_)).mkString
  }

  def diskBytes(dir: String): (Long, Long) = {
    val root = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(root)) (0L, 0L)
    else {
      val s = java.nio.file.Files.walk(root)
      try {
        val files = s.filter(p => java.nio.file.Files.isRegularFile(p)).toArray
          .map(_.asInstanceOf[java.nio.file.Path])
        (files.length.toLong, files.map(java.nio.file.Files.size).sum)
      } finally s.close()
    }
  }

  def check(name: String, expected: (Long, Long), actual: (Long, Long)): Check =
    Check(name, expected == actual,
      s"expected rows=${expected._1} hash=${expected._2}, got rows=${actual._1} hash=${actual._2}")
}
