package graft.layout

import java.nio.file.Files

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Bucketed tables pre-pay the join shuffle at write time: two tables
  * bucketed on the same key with the same bucket count join with NO
  * exchange on either side. This spec asserts the plan shape (zero
  * ShuffleExchange nodes with broadcast disabled) and that the result
  * equals the plain unbucketed join.
  */
class BucketedJoinSpec extends AnyFunSuite with LocalSparkSuite {

  // static plans: under AQE, executed shuffles hide inside leaf
  // QueryStageExec nodes and the plan.collect below would miss them
  override protected def sessionConf: Map[String, String] = Map(
    "spark.sql.warehouse.dir" -> Files.createTempDirectory("graft-wh").toString,
    "spark.sql.adaptive.enabled" -> "false")

  private def shuffleCount(df: org.apache.spark.sql.DataFrame): Int =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => fail(s"expected a static plan, got AQE: $a")
      case p => p.collect { case e: ShuffleExchangeLike => e }.size
    }

  test("co-bucketed join plans with zero shuffles and matches the plain join") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bucketed").toString
    val left = (1L to 500L).map(i => (i, s"lang${i % 5}")).toDF("doc_id", "lang")
    val right = (1L to 500L).map(i => (i, i * 7)).toDF("doc_id", "n_tokens")
    Layout.writeBucketed(left, "bj_left", "doc_id", 4, s"$dir/left")
    Layout.writeBucketed(right, "bj_right", "doc_id", 4, s"$dir/right")
    val joined = spark.table("bj_left").join(spark.table("bj_right"), "doc_id")
    // disable broadcast so the co-located sort-merge path is what's planned
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      assert(shuffleCount(joined) == 0)
      // an UNbucketed join of the same data shuffles both sides
      assert(shuffleCount(left.join(right, "doc_id")) == 2)
    } finally spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    val got = joined.collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = (1L to 500L).map(i => (i, s"lang${i % 5}", i * 7)).toSet
    assert(got == want)
  }

  test("bucketed aggregation on the bucket key needs no exchange") {
    val agg = spark.table("bj_right").groupBy("doc_id").agg(sum("n_tokens").as("s"))
    assert(shuffleCount(agg) == 0)
  }
}
