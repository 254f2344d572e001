package graft.layout

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Geometric contracts of the curve-cell spatial join: corner probes
  * find partners across diagonal cell boundaries (the 3×3
  * completeness argument, exercised), results equal the plain
  * inequality join, and the cell-width precondition is enforced.
  */
class SpatialJoinSpec extends AnyFunSuite with LocalSparkSuite {

  private def pts(rows: (Long, Int, Int)*) = {
    import spark.implicits._
    graft.functions.Curves.register(spark)
    rows.toDF("key", "x", "y")
  }

  test("corner probe reaches all diagonal neighbor cells; equals the naive join") {
    // cell width 4 (cellBits 2): (4,4) sits at a 4-corner; partners in
    // all four surrounding cells within radius 2
    val a = pts((1L, 4, 4))
    val b = pts((10L, 3, 3), (11L, 5, 3), (12L, 3, 5), (13L, 5, 5),
      (14L, 6, 6), (15L, 7, 4), (16L, 9, 9))
    val out = SpatialJoin.boxJoin(a, b, dx = 2, dy = 2, cellBits = 2)
      .collect().map(r => r.getLong(1)).toSet
    // 15 is at distance (3,0) -> outside dx=2; 16 far away
    assert(out == Set(10L, 11L, 12L, 13L, 14L))
  }

  test("matches the naive inequality join on a random-ish grid, no self-pairs") {
    val rows = (0 until 120).map(i =>
      ((i * 37 % 100).toLong * 1000 + i, i * 13 % 40, i * 29 % 40))
    val df = pts(rows: _*)
    val fast = SpatialJoin.boxJoin(df, df, dx = 2, dy = 2, cellBits = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      (ka, xa, ya) <- rows; (kb, xb, yb) <- rows
      if ka != kb && math.abs(xa - xb) <= 2 && math.abs(ya - yb) <= 2
    } yield (ka, kb)).toSet
    assert(fast == naive && naive.nonEmpty)
  }

  test("deltas are exact signed offsets") {
    val a = pts((1L, 10, 10))
    val b = pts((2L, 8, 12))
    val r = SpatialJoin.boxJoin(a, b, dx = 2, dy = 2, cellBits = 2).collect()
    assert(r.length == 1)
    assert(r.head.getLong(2) == -2L && r.head.getLong(3) == 2L)
  }

  test("a box radius wider than the cell is rejected (completeness precondition)") {
    val d = pts((1L, 0, 0))
    intercept[IllegalArgumentException] {
      SpatialJoin.boxJoin(d, d, dx = 5, dy = 1, cellBits = 2)
    }
  }

  private def dpts(rows: (Long, Double, Double)*) = {
    import spark.implicits._
    graft.functions.Curves.register(spark)
    rows.toDF("key", "x", "y")
  }

  test("double box join matches the naive inequality join, including cell-boundary pairs") {
    // irrational-ish coords spread over [0,100)x[0,10): no alignment
    // with any grid the quantizer picks
    val rows = (0 until 150).map(i =>
      (i.toLong, (i * 37 % 100) + i * 0.013, (i * 29 % 10) + i * 0.007))
    val df = dpts(rows: _*)
    val fast = SpatialJoin.boxJoinDouble(df, df, rx = 2.5, ry = 0.75,
      xLo = 0.0, xHi = 110.0, yLo = 0.0, yHi = 12.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val naive = (for {
      (ka, xa, ya) <- rows; (kb, xb, yb) <- rows
      if ka != kb && math.abs(xa - xb) <= 2.5 && math.abs(ya - yb) <= 0.75
    } yield (ka, kb)).toSet
    assert(fast == naive && naive.nonEmpty)
  }

  test("double box join: exact-radius pairs survive quantization (boundary completeness)") {
    // partners at EXACTLY the radius in each axis — the pairs a
    // rounding-careless grid would lose; margin keeps them 3×3-visible
    val a = dpts((1L, 50.0, 5.0))
    val b = dpts((10L, 52.5, 5.0), (11L, 47.5, 5.0),
      (12L, 50.0, 5.75), (13L, 52.5, 5.75), (14L, 52.6, 5.0))
    val out = SpatialJoin.boxJoinDouble(a, b, rx = 2.5, ry = 0.75,
      xLo = 0.0, xHi = 110.0, yLo = 0.0, yHi = 12.0)
      .collect().map(_.getLong(1)).toSet
    assert(out == Set(10L, 11L, 12L, 13L)) // 14 is past the radius
  }

  test("double box join: NaN coordinates never match; oversized radius is rejected") {
    val a = dpts((1L, Double.NaN, 5.0), (2L, 50.0, 5.0))
    val b = dpts((10L, 50.0, 5.0), (11L, Double.NaN, 5.0))
    val out = SpatialJoin.boxJoinDouble(a, b, rx = 2.5, ry = 0.75,
      xLo = 0.0, xHi = 110.0, yLo = 0.0, yHi = 12.0)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out == Set((2L, 10L)))
    intercept[IllegalArgumentException] {
      SpatialJoin.boxJoinDouble(a, b, rx = 200.0, ry = 0.75,
        xLo = 0.0, xHi = 110.0, yLo = 0.0, yHi = 12.0)
    }
  }
}
