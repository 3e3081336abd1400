package graft

/** Every entry point and this suite build through [[GraftSession]]; the
  * shared test session must therefore carry the factory's settings, so
  * the suite runs on the same config as Bench and Verify. */
class SessionSpec extends SparkSpec {
  test("the shared session carries the GraftSession settings") {
    val sql = spark.conf
    val core = spark.sparkContext.getConf
    assert(sql.get("spark.sql.session.timeZone") == "UTC")
    assert(sql.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(sql.get("spark.sql.adaptive.enabled") == "true")
    assert(sql.get("spark.sql.shuffle.partitions") == GraftSession.cpus.toString)
    assert(core.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    assert(core.get("spark.cleaner.periodicGC.interval") == "60s")
    if (!sys.env.contains("SPARK_GRAFT_MASTER"))
      assert(spark.sparkContext.master == s"local[${GraftSession.cpus}]")
  }
}
