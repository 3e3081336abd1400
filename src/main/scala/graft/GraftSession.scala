package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession configuration every graft entry point runs
  * under — Bench, Verify, the HTTP server, the ETL main, the tools and
  * the test suite — so a result or a timing never depends on which
  * main built the session.
  *
  *  - cores: `SPARK_GRAFT_CPUS`, else the JVM's available processors;
  *    shuffle partitions equal the core count;
  *  - master: `SPARK_GRAFT_MASTER` when set (e.g.
  *    `local-cluster[n,cores,mb]` — separate executor JVMs and shuffle
  *    dirs, see scripts/cluster_scratch_ab.sh), else `local[cores]`;
  *  - AQE on, UTC session time zone, parquet nanosecond timestamps read
  *    as longs (`graft.model.Tables.events` normalizes them), UI off;
  *  - periodic driver GC: a multi-query JVM accumulates every finished
  *    stage's shuffle files until the driver GCs (ContextCleaner
  *    removes them only when their ShuffleDependency is collected), and
  *    a 48 g heap at sf10 may never GC unprompted — which disk-killed
  *    the sf10 Verify dump twice at >70 GB of dead spill and made
  *    repeat runs measure disk fill rather than the query.
  *
  * [[builder]] returns the configured builder so a caller can add the
  * settings that are truly its own (the test suite's temp warehouse
  * dir); [[create]] is the common build-and-quiet path. */
object GraftSession {
  def cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def builder(): SparkSession.Builder = {
    val n = cpus
    SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$n]"))
      .config("spark.sql.shuffle.partitions", n.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.cleaner.periodicGC.interval", "60s")
      .config("spark.ui.enabled", "false")
  }

  def create(logLevel: String = "WARN"): SparkSession = {
    val spark = builder().getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
