package graft

/** The shared test session is built by [[Session.local]], so it carries
  * the same settings as Bench, Verify and the CLI. */
class SessionSpec extends SparkSpec {

  test("factory session: UTC, nanosAsLong, one shuffle partition per core, UI off") {
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.conf.get("spark.sql.shuffle.partitions") == "4")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
  }

  test("graft SQL functions resolve on the factory session") {
    val d = spark.sql(
      "select fvec_dot(array(cast(1.0 as float), cast(2.0 as float)), " +
        "array(cast(3.0 as float), cast(4.0 as float)))").head.getDouble(0)
    assert(d == 11.0)
    assert(spark.catalog.functionExists("fvec_topk"))
    assert(spark.catalog.functionExists("kmv_mink"))
  }
}
