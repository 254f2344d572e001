package graft.layout

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random

/** The quantizer's two load-bearing contracts:
  *  1. monotonicity / box containment — v in [a, b] implies cell(v) in
  *     [cell(a), cell(b)] — which is what lets CurveRanges decompose a
  *     VALUE box by quantizing its corners;
  *  2. bit-identical agreement between the executor expression
  *     ([[Quantize.grid]]) and the driver mirror ([[Quantize.cell]]),
  *     so the ranges built from query corners match the stored cells.
  */
class QuantizeSpec extends AnyFunSuite with LocalSparkSuite {

  test("monotone + box containment over random domains, bits, and boxes") {
    val rnd = new Random(13)
    for (_ <- 1 to 300) {
      val lo = rnd.nextDouble() * 2000 - 1000
      val hi = lo + rnd.nextDouble() * 10000 + 1e-6
      val bits = 1 + rnd.nextInt(30)
      // random value box inside (and slightly outside) the domain
      val a = lo + (rnd.nextDouble() * 1.2 - 0.1) * (hi - lo)
      val b = a + rnd.nextDouble() * (hi - a).max(1e-9)
      val ca = Quantize.cell(a, lo, hi, bits)
      val cb = Quantize.cell(b, lo, hi, bits)
      assert(ca <= cb)
      assert(ca >= 0 && cb <= Quantize.maxCell(bits))
      for (_ <- 1 to 20) {
        val v = a + rnd.nextDouble() * (b - a)
        val cv = Quantize.cell(v, lo, hi, bits)
        assert(ca <= cv && cv <= cb,
          s"containment broken: cell($v)=$cv outside [cell($a)=$ca, cell($b)=$cb] " +
            s"domain [$lo,$hi] bits=$bits")
      }
    }
    // domain edges and clamping
    assert(Quantize.cell(-1e300, 0.0, 1.0, 8) == 0)
    assert(Quantize.cell(1e300, 0.0, 1.0, 8) == 255)
    assert(Quantize.cell(0.0, 0.0, 1.0, 8) == 0)
    assert(Quantize.cell(1.0, 0.0, 1.0, 8) == 255)
  }

  test("executor expression and driver mirror agree bit-for-bit") {
    import spark.implicits._
    val rnd = new Random(29)
    val (lo, hi, bits) = (900.0, 105000.0, 16)
    val vals = Seq(lo, hi, (lo + hi) / 2, lo - 50.0, hi + 50.0) ++
      Seq.fill(2000)(lo + rnd.nextDouble() * (hi - lo) * 1.1 - 0.05 * (hi - lo))
    val got = vals.toDF("v")
      .select(col("v"), Quantize.grid(col("v"), lo, hi, bits).as("c"))
      .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
    vals.foreach { v =>
      assert(got(v) == Quantize.cell(v, lo, hi, bits), s"v=$v")
    }
    // NaN: both mirrors agree on the TOP cell explicitly (round-8
    // ADVICE: Spark's least/greatest vs java.lang.Math NaN semantics
    // silently diverged — executor top cell, driver 0)
    val nanCell = Seq(Double.NaN).toDF("v")
      .select(Quantize.grid(col("v"), lo, hi, bits)).head().getLong(0)
    assert(nanCell == Quantize.maxCell(bits))
    assert(Quantize.cell(Double.NaN, lo, hi, bits) == Quantize.maxCell(bits))
  }

  test("quantized hilbert-indexed layout answers a double box exactly (end-to-end)") {
    import spark.implicits._
    val rnd = new Random(41)
    val rows = (0 until 4000).map(i => (i.toLong, rnd.nextDouble() * 1000, rnd.nextDouble() * 50))
    val df = rows.toDF("id", "price", "qty")
    val base = System.getProperty("java.io.tmpdir") + "/graft_quantize_spec"
    val bits = 12
    Layout.writeHilbertIndexedCells(df,
      Seq(Quantize.grid(col("price"), 0.0, 1000.0, bits).cast("int"),
        Quantize.grid(col("qty"), 0.0, 50.0, bits).cast("int")),
      s"$base/idx", "hk", rowGroupBytes = 16 * 1024)
    val rs = graft.core.CurveRanges.ranges(hilbert = true,
      Array(Quantize.cell(200.0, 0.0, 1000.0, bits), Quantize.cell(10.0, 0.0, 50.0, bits)),
      Array(Quantize.cell(400.0, 0.0, 1000.0, bits), Quantize.cell(20.0, 0.0, 50.0, bits)),
      bits = 32, maxRanges = 16)
    val got = spark.read.parquet(s"$base/idx")
      .filter(Layout.curveRangePredicate(col("hk"), rs) &&
        col("price").between(200.0, 400.0) && col("qty").between(10.0, 20.0))
      .select("id").as[Long].collect().toSet
    val want = rows.collect {
      case (id, p, q) if p >= 200.0 && p <= 400.0 && q >= 10.0 && q <= 20.0 => id
    }.toSet
    assert(got == want && want.nonEmpty)
  }

  test("layout descriptor sidecar: stored params drive the query box; drift is impossible") {
    import spark.implicits._
    val rnd = new Random(43)
    val rows = (0 until 4000).map(i => (i.toLong, rnd.nextDouble() * 1000, rnd.nextDouble() * 50))
    val df = rows.toDF("id", "price", "qty")
    val base = System.getProperty("java.io.tmpdir") + "/graft_sidecar_spec"
    def write(bits: Int, priceHi: Double): Unit =
      Layout.writeQuantizedIndexed(df,
        Seq(col("price") -> Layout.QuantDim("price", 0.0, priceHi, bits),
          col("qty") -> Layout.QuantDim("qty", 0.0, 50.0, bits)),
        s"$base/idx", "hk", rowGroupBytes = 16 * 1024)
    def query(): Set[Long] = {
      // NO grid parameters at the query site — only the box values;
      // everything else comes from the table's sidecar
      val layout = Layout.openQuantized(s"$base/idx")
      spark.read.parquet(s"$base/idx")
        .filter(layout.rangePredicate(Seq(200.0, 10.0), Seq(400.0, 20.0)) &&
          col("price").between(200.0, 400.0) && col("qty").between(10.0, 20.0))
        .select("id").as[Long].collect().toSet
    }
    val want = rows.collect {
      case (id, p, q) if p >= 200.0 && p <= 400.0 && q >= 10.0 && q <= 20.0 => id
    }.toSet

    write(bits = 12, priceHi = 1000.0)
    val d = Layout.openQuantized(s"$base/idx")
    assert(d.curve == "hilbert" && d.keyName == "hk" && d.elemBits == 32)
    assert(d.dims == Seq(Layout.QuantDim("price", 0.0, 1000.0, 12),
      Layout.QuantDim("qty", 0.0, 50.0, 12)))
    assert(query() == want && want.nonEmpty)

    // the round-8 drift scenario: the table is REWRITTEN with different
    // grid parameters (new bits, new domain) and the query code is not
    // touched — with query-site literals this silently broke pruning;
    // through the sidecar the same query stays exact because its box is
    // rebuilt from the updated stored parameters
    write(bits = 9, priceHi = 2000.0)
    assert(Layout.openQuantized(s"$base/idx").dims.head ==
      Layout.QuantDim("price", 0.0, 2000.0, 9))
    assert(query() == want)
  }

  test("int-grid sidecar: stored curve/width/key drive the query; rewrite cannot drift it") {
    import spark.implicits._
    val rnd = new Random(47)
    val rows = (0 until 4000).map(i =>
      (i.toLong, rnd.nextInt(1000), rnd.nextInt(50)))
    val df = rows.toDF("id", "x", "y")
    val base = System.getProperty("java.io.tmpdir") + "/graft_sidecar_int_spec"
    def query(): Set[Long] = {
      // NO curve/bits/key-name at the query site — only the box
      val layout = Layout.openIndexed(s"$base/idx")
      spark.read.parquet(s"$base/idx")
        .filter(layout.rangePredicate(Seq(200L, 10L), Seq(400L, 20L)) &&
          col("x").between(200, 400) && col("y").between(10, 20))
        .select("id").as[Long].collect().toSet
    }
    val want = rows.collect {
      case (id, x, y) if x >= 200 && x <= 400 && y >= 10 && y <= 20 => id
    }.toSet

    Layout.writeHilbertIndexed(df, Seq("x", "y"), s"$base/idx",
      rowGroupBytes = 16 * 1024)
    val d = Layout.openIndexed(s"$base/idx")
    assert(d == Layout.IndexedLayoutDesc("hilbert", "hkey", 32, Seq("x", "y")))
    assert(query() == want && want.nonEmpty)

    // the drift scenario for int grids: the table is REWRITTEN with a
    // different curve, element width AND key column name — the query
    // code is untouched and stays exact because everything but the box
    // comes from the updated sidecar
    Layout.writeMortonIndexed(df, Seq("x", "y"), s"$base/idx",
      keyName = "zk16", rowGroupBytes = 16 * 1024, elemType = "smallint")
    assert(Layout.openIndexed(s"$base/idx") ==
      Layout.IndexedLayoutDesc("morton", "zk16", 16, Seq("x", "y")))
    assert(query() == want)

    // kind mismatch is a loud error, not a mis-parse
    val e = intercept[IllegalArgumentException](Layout.openQuantized(s"$base/idx"))
    assert(e.getMessage.contains("openIndexed"))
  }

  test("sidecar JSON escapes hostile dim names (quote/backslash) round-trip") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i.toLong, i % 10 * 1.0, i % 7 * 1.0))
      .toDF("id", "a", "b")
    val base = System.getProperty("java.io.tmpdir") + "/graft_sidecar_esc_spec"
    val hostile = """price "usd" \ raw"""
    Layout.writeQuantizedIndexed(df,
      Seq(col("a") -> Layout.QuantDim(hostile, 0.0, 10.0, 8),
        col("b") -> Layout.QuantDim("b", 0.0, 7.0, 8)),
      s"$base/idx", "hk", rowGroupBytes = 16 * 1024)
    assert(Layout.openQuantized(s"$base/idx").dims.head.name == hostile)
  }
}
