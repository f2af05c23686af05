package graft

import org.apache.spark.sql.SparkSession

/** The one place graft builds a SparkSession. Its settings are part of
  * how the engine behaves, so every entry point (Bench, Verify, the CLI,
  * the specs and the test-scope tools) takes them from here:
  *
  *  - `local[cores]` with one shuffle partition per core;
  *  - UTC session time zone (all fixture time math is epoch-UTC);
  *  - `nanosAsLong`, so `TIMESTAMP(NANOS)` parquet reads as BIGINT
  *    epoch-nanoseconds ([[Tables.load]] also sets it, for sessions a
  *    caller built elsewhere);
  *  - UI off, log level WARN;
  *  - [[GraftExtensions]] registered, so `fvec_dot`/`fvec_topk`/`kmv_mink`
  *    resolve in `spark.sql` and in the YAML fragments compiled via `expr`.
  */
object Session {

  /** Local core count: `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cores(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(default)

  def local(cores: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    GraftExtensions.register(s)
    s
  }
}
