package graft.graph

import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Behavioral contracts of the integer PageRank that the oracle's
  * value-hash can't state as invariants: isolated nodes pin to the
  * base rank, regular graphs are exact fixed points, hubs outrank
  * leaves, and edge orientation doesn't matter.
  */
class GraphRankSpec extends AnyFunSuite with LocalSparkSuite {

  private val Scale = 1000000000000L
  private val Base = Scale * 15 / 100

  private def nodes(ids: Long*) = {
    import spark.implicits._
    ids.toDF("doc_id")
  }
  private def pairs(es: (Long, Long)*) = {
    import spark.implicits._
    es.toDF("doc_a", "doc_b")
  }

  test("personalized: all-seeds reduces to plain pageRank; unreachable node is exactly 0") {
    import org.apache.spark.sql.functions.{col, lit}
    val n = nodes(1L, 2L, 3L, 4L)
    val p = pairs((1L, 2L), (2L, 4L))
    val plain = ranks(n, p)
    val allSeeds = GraphRank.pageRankPersonalized(n, p, lit(true)).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(allSeeds === plain)
    val ppr = GraphRank.pageRankPersonalized(n, p, col("doc_id") === 1L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(ppr(3L) === 0L)            // disconnected from the seed
    assert(ppr(1L) >= Base)           // seed keeps the teleport mass
    assert(ppr(2L) > 0L && ppr(4L) > 0L) // 1- and 2-hop proximity
    assert(ppr(2L) > ppr(4L))         // closer to the seed ranks higher
  }

  private def ranks(n: org.apache.spark.sql.DataFrame,
      p: org.apache.spark.sql.DataFrame): Map[Long, Long] = {
    val m = GraphRank.pageRank(n, p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    m
  }

  test("isolated nodes pin to the base rank; every node is emitted") {
    val r = ranks(nodes(1L, 2L, 3L, 4L), pairs(1L -> 2L))
    assert(r.keySet == Set(1L, 2L, 3L, 4L))
    assert(r(3L) == Base && r(4L) == Base)
    // a mutual pair is a 1-regular graph: exact fixed point at scale
    assert(r(1L) == Scale && r(2L) == Scale)
  }

  test("a cycle (2-regular) is an exact fixed point at scale") {
    val r = ranks(nodes(1L, 2L, 3L, 4L, 5L),
      pairs(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 1L))
    assert(r.values.toSet == Set(Scale))
  }

  test("a star's hub outranks its leaves, which outrank isolation") {
    val r = ranks(nodes(0L, 1L, 2L, 3L, 4L, 9L),
      pairs(0L -> 1L, 0L -> 2L, 0L -> 3L, 0L -> 4L))
    assert(r(0L) > r(1L), s"hub must outrank leaf: $r")
    assert(Set(1L, 2L, 3L, 4L).map(r).size == 1, "leaves tie by symmetry")
    assert(r(1L) > r(9L), "connected leaf must outrank the isolated node")
  }

  test("converged twin: a fixed-point graph stops in one round and matches fixed-iters") {
    // a mutual pair is 1-regular: round 1 reproduces the initial ranks
    // exactly (0.15s + 0.85s = s in exact integers), so tol=0 stops
    // immediately and any fixed count gives the same ranks
    val n = nodes(1L, 2L)
    val p = pairs(1L -> 2L)
    val got = GraphRank.pageRankConverged(n, p).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(GraphRank.lastConvergedRounds === 1)
    assert(got === Map(1L -> Scale, 2L -> Scale))
    assert(got === ranks(n, p))
  }

  test("converged twin: an edgeless graph settles to the base in two rounds") {
    val n = nodes(1L, 2L, 3L)
    val got = GraphRank.pageRankConverged(n, pairs()).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    // round 1 drops every rank from scale to base (moved > 0), round 2
    // confirms the fixpoint (moved = 0)
    assert(GraphRank.lastConvergedRounds === 2)
    assert(got.values.toSet === Set(Base))
  }

  test("converged twin: the cap bites on a slow graph and equals fixed-iters at the cap") {
    val n = nodes(0L, 1L, 2L, 3L, 4L)
    val p = pairs(0L -> 1L, 0L -> 2L, 0L -> 3L, 3L -> 4L)
    val got = GraphRank.pageRankConverged(n, p, tol = 0L, maxIters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(GraphRank.lastConvergedRounds === 3)
    val exp = GraphRank.pageRank(n, p, iters = 3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(got === exp)
  }

  test("converged twin: a tolerance stop is bit-identical to fixed-iters at the stop round") {
    val n = nodes(0L, 1L, 2L, 3L, 4L)
    val p = pairs(0L -> 1L, 0L -> 2L, 0L -> 3L, 3L -> 4L)
    // a millionth of the initial mass: ~log(1e6)/log(100/85) ≈ 85
    // worst-case rounds; this star settles far faster
    val got = GraphRank.pageRankConverged(n, p, tol = 1000000L, maxIters = 120)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val stopped = GraphRank.lastConvergedRounds
    spark.catalog.clearCache()
    assert(stopped < 120, "tolerance never fired — cap hit")
    val exp = GraphRank.pageRank(n, p, iters = stopped).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(got === exp)
    assert(stopped > 1, "stop round 1 would make the tolerance check vacuous")
  }

  test("edge orientation is irrelevant: swapped pairs give identical ranks") {
    val es = Seq(1L -> 2L, 2L -> 3L, 1L -> 4L, 4L -> 5L, 3L -> 5L)
    val a = ranks(nodes(1L, 2L, 3L, 4L, 5L), pairs(es: _*))
    val b = ranks(nodes(1L, 2L, 3L, 4L, 5L), pairs(es.map(_.swap): _*))
    assert(a == b)
  }

  test("checkpoint cadence is invisible: deep iters=12 matches the unchunked run, analysis stays flat") {
    // a PATH graph: degree asymmetry (endpoints 1, interior 2) makes
    // power iteration converge slowly, so iter 12 ≠ iter 3 — a
    // 2-regular graph would already sit at the fixed point
    val n = nodes(1L, 2L, 3L, 4L, 5L, 6L, 9L)
    val p = pairs(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L)
    def run(every: Int) = {
      val m = GraphRank.pageRank(n, p, iters = 12, checkpointEvery = every)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      spark.catalog.clearCache()
      m
    }
    val t0 = System.nanoTime()
    val chunked = run(5)                // 2 lineage cuts inside 12 iters
    val chunkedMs = (System.nanoTime() - t0) / 1000000L
    val unchunked = run(1000)           // cadence never fires
    assert(chunked == unchunked)
    // ranks actually moved past the 3-iter state (the deep run is real)
    val threeIter = ranks(n, p)
    assert(chunked != threeIter)
    // flat-analysis guard: a 12-iter chunked run must not blow up into
    // plan-analysis minutes; generous wall bound, catches regressions
    // where the checkpoint stops truncating lineage
    assert(chunkedMs < 60000L, s"chunked 12-iter run took ${chunkedMs}ms")
  }

  test("uniform weights reduce the weighted form to the unweighted, bit-for-bit") {
    import spark.implicits._
    val n = nodes(1L, 2L, 3L, 4L, 5L)
    val es = Seq(1L -> 2L, 2L -> 3L, 1L -> 4L, 4L -> 5L, 3L -> 5L)
    val wp = es.map { case (a, b) => (a, b, 7L) }
      .toDF("doc_a", "doc_b", "minhash_matches")
    val w = GraphRank.pageRankWeighted(n, wp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    // equal weights cancel: (r·7)//(7·outdeg) == r//outdeg ONLY up to
    // flooring — with scale=1e12 both floors land identically on this
    // graph, and the unweighted path itself runs w=1 through the same
    // core, so the stronger claim is exact equality to pageRank
    assert(w == ranks(n, pairs(es: _*)))
  }

  test("weighted rank follows the heavy edge: the strong neighbor outranks the weak one") {
    import spark.implicits._
    val n = nodes(0L, 1L, 2L)
    // hub 0 endorses node 1 nine times as strongly as node 2
    val wp = Seq((0L, 1L, 9L), (0L, 2L, 1L))
      .toDF("doc_a", "doc_b", "minhash_matches")
    val w = GraphRank.pageRankWeighted(n, wp).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    spark.catalog.clearCache()
    assert(w(1L) > w(2L), s"heavy-edge neighbor must outrank: $w")
    // unweighted on the same topology ties them
    val u = ranks(n, pairs(0L -> 1L, 0L -> 2L))
    assert(u(1L) == u(2L))
  }
}
