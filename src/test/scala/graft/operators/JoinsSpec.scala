package graft.operators

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** SaltedJoin's correctness contract (salted == unsalted row for row)
  * and the plan property that justifies its existence: the physical
  * join shuffles on (key, salt), not key alone, so a hot key's rows
  * spread over `salts` reducers.
  */
class JoinsSpec extends AnyFunSuite with LocalSparkSuite {

  test("salted join == plain join on pathologically skewed keys") {
    import spark.implicits._
    // 3 keys, one owning 90% of the rows — the shape salting exists for
    val big = (1L to 1000L)
      .map(i => (i, if (i <= 900) "hot" else if (i <= 950) "warm" else "cold"))
      .toDF("id", "key")
    val small = Seq(("hot", 10L), ("warm", 20L), ("cold", 30L)).toDF("key", "v")
    val salted = SaltedJoin(big, small, "key", col("id"), salts = 8)
      .select("id", "key", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    val plain = big.join(small, "key")
      .select("id", "key", "v").collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(salted.sorted.toSeq == plain.sorted.toSeq)
    assert(salted.length == 1000)
  }

  test("salted plan shuffles on (key, salt) through a non-broadcast join") {
    import spark.implicits._
    val big = (1L to 100L).map(i => (i, "k")).toDF("id", "key")
    val small = Seq(("k", 1L)).toDF("key", "v")
    val plan = SaltedJoin(big, small, "key", col("id"), salts = 8)
      .queryExecution.executedPlan.toString
    // the hint must hold the join out of the broadcast fast path (a
    // broadcast join has no reducer skew for the salt to fix)...
    assert(!plan.contains("BroadcastHashJoin"), plan)
    // ...and the shuffled join's key set must include the salt
    assert(plan.contains("__salt"), plan)
  }
}
