package graft

import org.apache.spark.sql.SparkSession

/** The one place that builds a local `SparkSession` — every main and
  * every test suite goes through [[local]], so the host-engine contract
  * cannot drift between the bench, the verify dump, the profilers and
  * the tests:
  *
  *  - `local[cpus]`, with `spark.sql.shuffle.partitions = cpus`;
  *  - `spark.sql.session.timeZone = UTC`;
  *  - `spark.ui.enabled = false`;
  *  - `spark.sql.codegen.cache.maxEntries = 4096`;
  *  - log level WARN.
  *
  * The generated-code cache defaults to 100 entries; the declared suite
  * compiles ~1,500 distinct codegen units (224 queries x several
  * WholeStageCodegen/aggregate/ordering units each), so at the default
  * every pass evicts everything and every execution pays Janino
  * recompilation ON THE DRIVER THREAD — measured as the
  * single-core-pegged profile of the round-17 driver bench that hit its
  * timeout (rc=124). A 4,096-entry cache holds the whole suite; any
  * long-lived production driver serving a repeated query mix wants the
  * same setting (guide §1.2.3: configuration fixing a measured
  * stability/overhead problem, not an algorithm). Static conf — it must
  * be set before the first session is created.
  *
  * `extra` is applied last, so it may override any of the above; it
  * carries the few settings a caller genuinely needs on top (an ad-hoc
  * conf A/B, a session extension, a legacy Parquet flag). */
object Session {
  def local(cpus: Int, app: String,
      extra: Map[String, String] = Map.empty): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(app)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config(extra)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
