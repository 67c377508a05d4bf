package graft

import org.apache.spark.sql.SparkSession

/** The one local SparkSession configuration: Bench, Verify, Smoke,
  * PlanDump, ResidualProbe and the test suite all start through here, so
  * a Spark default that flips between releases shows up as a diff to
  * this file rather than as a behaviour change in one entry point.
  */
object Session {
  def local(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    // legacy-fixture back-compat (TIMESTAMP(NANOS) generations): pin at
    // session init so no query mutates shared conf at plan time; the
    // current TIMESTAMP(MICROS) fixture ignores this conf entirely
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // a full pass over the query surface blows through the default
    // 100-entry codegen class cache; evictions force Janino recompiles
    // mid-pass and misattribute seconds to innocent queries
    .config("spark.sql.codegen.cache.maxEntries", "4000")
    // the Spark 4 default, pinned so the engine's cast and arithmetic
    // semantics cannot change under it with a Spark upgrade
    .config("spark.sql.ansi.enabled", "true")
    .getOrCreate()
}
