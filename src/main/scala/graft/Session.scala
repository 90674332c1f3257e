package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft Spark session is configured. Every main and the
  * test suite start from [[local]] and add only their own overrides, so
  * two mains given the same cpus build the same session — PlanDump's
  * dump hashes to Bench's plan hash because both take this builder.
  */
object Session {
  /** A builder for `local[cpus]` (default `SPARK_GRAFT_CPUS`, else 32)
    * with one shuffle partition per cpu, UTC session time, parquet
    * nanosecond timestamps read as longs, and no UI. Later `.config`
    * calls override these.
    */
  def local(cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
}
