package graft

import org.apache.spark.sql.SparkSession

/** The one session recipe every main, tool and the shared test session
  * run under. A conf that only one caller needs (Bench's progress-ring
  * size, log levels, a probe's shuffle-partition override) stays at that
  * caller.
  */
object GraftSession {

  /** Local core count: `SPARK_GRAFT_CPUS`, else every available core. */
  private def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = envCpus): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // ObjectHashAggregate (graft_topk, graft_last_by) stays on the hash
      // path at dedup-key cardinality (the COUNT-based fallback engages
      // beyond 4M groups)
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "4194304")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet stores INT64 TIMESTAMP(NANOS); read as long and
      // rebuild µs timestamps in Fixtures.events
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
}
