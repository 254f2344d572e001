package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Timing helpers for [[ScaleCheck]]'s sf0.1 → sf1 rows — the
  * measurement discipline of the round-8 ADVICE fix (cache drops
  * happen BETWEEN timed runs, never inside the measured region). */
object BenchUtil {
  def timed(f: => Unit): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  /** Consume every row and column without letting Catalyst prune the
    * expressions under test (the Bench convention). */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One untimed warmup, then the min of `runs` timed executions.
    * Caches persisted inside `f` are dropped between runs — every run
    * does all the work — but the drop itself is NOT measured. */
  def minOfN(spark: SparkSession, runs: Int = 3)(f: => Unit): Double = {
    f; spark.catalog.clearCache()
    (1 to runs).map { _ =>
      val t = timed(f); spark.catalog.clearCache(); t
    }.min
  }
}
