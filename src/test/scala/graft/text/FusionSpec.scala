package graft.text

import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Contracts of reciprocal-rank fusion: the fused score is exactly
  * the sum of per-ranker reciprocal terms, single-ranker fusion
  * preserves the ranker's order, and consensus beats a lone top rank
  * at the classic K=60.
  */
class FusionSpec extends AnyFunSuite with LocalSparkSuite {

  private def ranking(rows: (Long, Long)*) = {
    import spark.implicits._
    rows.toDF("doc_id", "rnk")
  }

  test("fused score is the exact sum of reciprocal terms") {
    val a = ranking(1L -> 1L, 2L -> 2L, 3L -> 3L)
    val b = ranking(2L -> 1L, 1L -> 2L, 4L -> 3L)
    val out = Fusion.rrfFuse(Seq(a, b), 10).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def t(rnk: Long) = 1000000L / (60L + rnk)
    assert(out(1L) == ((2L, t(1) + t(2))))
    assert(out(2L) == ((2L, t(2) + t(1))))
    assert(out(3L) == ((1L, t(3))))
    assert(out(4L) == ((1L, t(3))))
  }

  test("single-ranker fusion preserves the ranker's order") {
    val a = ranking((1L to 10L).map(i => (100L + i, i)): _*)
    val out = Fusion.rrfFuse(Seq(a), 10).collect()
      .sortBy(-_.getLong(2)).map(_.getLong(0)).toSeq
    assert(out == (1L to 10L).map(100L + _))
  }

  test("two mid ranks beat one lone top rank at K=60") {
    // RRF's point: 2/(60+3) > 1/(60+1) — consensus wins
    val a = ranking(7L -> 1L, 9L -> 3L)
    val b = ranking(9L -> 3L)
    val out = Fusion.rrfFuse(Seq(a, b), 10).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(out(9L) > out(7L))
  }

  test("hybridSearch surfaces docs found by either ranker on real data") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val out = Fusion.hybridSearch(docs,
      Seq("table", "scan"), Seq("data", "query"), 10).collect()
    assert(out.nonEmpty)
    // at least one fused doc was surfaced by both rankers or scores
    // degrade to single-ranker contributions — either way the frame
    // is bounded by k and every score is positive
    assert(out.length <= 10)
    out.foreach(r => assert(r.getLong(2) > 0))
    spark.catalog.clearCache()
  }
}
