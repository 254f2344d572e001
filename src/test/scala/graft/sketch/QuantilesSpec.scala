package graft.sketch

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite
import scala.util.Random
import graft.layout.Quantize

/** The grid quantile sketch's three contracts:
  *  1. cell identity (the exact form of the "within one cell"
  *     guarantee): est_cell IS the grid cell of the true r-th
  *     smallest value;
  *  2. merge law: sketch(A ++ B) = per-(stratum, cell) sum of
  *     sketch(A) and sketch(B) — what makes it a sketch;
  *  3. value bound: |est_value - exact_value| <= one cell width (up
  *     to double rounding) for in-domain data.
  */
class QuantilesSpec extends AnyFunSuite with LocalSparkSuite {

  private val (lo, hi, bits) = (0.0, 1000.0, 10)

  private def mkDf(seed: Int, n: Int) = {
    import spark.implicits._
    val rnd = new Random(seed)
    (0 until n).map { i =>
      (if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        rnd.nextDouble() * 1000.0)
    }.toDF("grp", "x")
  }

  test("est_cell is exactly the grid cell of the true quantile value") {
    val df = mkDf(7, 5000)
    val out = Quantiles.gridQuantiles(df, "x", "grp", lo, hi, bits,
      Seq(10000L, 250000L, 500000L, 750000L, 990000L, 1000000L)).collect()
    assert(out.length == 18) // 3 strata x 6 quantiles
    val step = (hi - lo) / Quantize.maxCell(bits)
    out.foreach { r =>
      val exact = r.getAs[Double]("exact_value")
      val estCell = r.getAs[Long]("est_cell")
      val estValue = r.getAs[Double]("est_value")
      assert(estCell == Quantize.cell(exact, lo, hi, bits),
        s"cell identity broken at $r")
      assert(math.abs(estValue - exact) <= step * (1 + 1e-9),
        s"value bound broken at $r")
    }
  }

  test("quantile ranks agree with a driver-side sort (all strata, all qs)") {
    val df = mkDf(11, 2000)
    val byGrp = df.collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).map { case (g, vs) => g -> vs.map(_._2).sorted }
    val qs = Seq(10000L, 500000L, 990000L)
    val out = Quantiles.gridQuantiles(df, "x", "grp", lo, hi, bits, qs).collect()
    out.foreach { r =>
      val vs = byGrp(r.getAs[String]("stratum"))
      val rank = math.max(1L,
        (r.getAs[Long]("q_ppm") * vs.length + 999999L) / 1000000L).toInt
      assert(r.getAs[Long]("n") == vs.length)
      assert(r.getAs[Double]("exact_value") == vs(rank - 1))
    }
  }

  test("exact audit survives heavy ties (rank falls inside a run of equal values)") {
    import spark.implicits._
    // 100 copies each of 10 distinct values per stratum: most ranks
    // land strictly inside an equal-value run, the case the in-cell
    // rank-localized audit (round 9) must get right — the r-th
    // smallest VALUE is well-defined even though row order inside a
    // run is not
    val df = (for (g <- Seq("a", "b"); v <- 0 until 10; _ <- 0 until 100)
      yield (g, v * 100.0 + 50.0)).toDF("grp", "x")
    val qs = Seq(1L, 100000L, 345678L, 500000L, 999999L, 1000000L)
    val out = Quantiles.gridQuantiles(df, "x", "grp", lo, hi, bits, qs).collect()
    assert(out.length == 12)
    out.foreach { r =>
      val rank = math.max(1L, (r.getAs[Long]("q_ppm") * 1000L + 999999L) / 1000000L)
      val want = ((rank - 1) / 100) * 100.0 + 50.0
      assert(r.getAs[Double]("exact_value") == want, s"at $r")
      assert(r.getAs[Long]("est_cell") ==
        Quantize.cell(want, lo, hi, bits), s"cell identity at $r")
    }
  }

  test("merge law: histogram of a union is the sum of histograms") {
    val a = mkDf(3, 1500)
    val b = mkDf(5, 1100)
    def hist(df: org.apache.spark.sql.DataFrame) =
      Quantiles.gridHistogram(df, "x", "grp", lo, hi, bits)
        .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getLong(2)).toMap
    val union = hist(a.union(b))
    // hoisted: hist() is a full Spark collect — calling it inside the
    // per-key map re-ran ~4,000 collects (6.6 min for this one test)
    val (ha, hb) = (hist(a), hist(b))
    val merged = (ha.keySet ++ hb.keySet).map { k =>
      k -> (ha.getOrElse(k, 0L) + hb.getOrElse(k, 0L))
    }.toMap
    assert(union == merged && union.nonEmpty)
  }

  test("NULL values carry no rank: results match the null-free frame exactly") {
    import spark.implicits._
    val clean = mkDf(17, 1000)
    val dirty = clean.union(
      Seq.fill(50)(("a", Option.empty[Double])).toDF("grp", "x"))
    val qs = Seq(10000L, 500000L, 990000L)
    def out(df: org.apache.spark.sql.DataFrame) =
      Quantiles.gridQuantiles(df, "x", "grp", lo, hi, bits, qs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4))).sorted.toSeq
    assert(out(dirty) == out(clean)) // n excludes NULLs; no rank shift
  }

  test("persisted lifecycle: build+append == plain; delete(+compact) == survivors from-scratch") {
    import spark.implicits._
    val rnd = new Random(29)
    val df = (0 until 3000).map { i =>
      (i.toLong, if (i % 3 == 0) "a" else if (i % 3 == 1) "b" else "c",
        rnd.nextDouble() * 1000.0)
    }.toDF("id", "grp", "x")
    val qs = Seq(10000L, 250000L, 500000L, 750000L, 990000L)
    val tmp = java.nio.file.Files.createTempDirectory("graft_grid_life").toString
    val path = s"$tmp/hist"
    def served(d: org.apache.spark.sql.DataFrame) =
      Quantiles.gridQuantilesFromSketch(spark, d, path, "x", "grp",
        lo, hi, bits, qs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getDouble(5))).sorted.toSeq
    def plain(d: org.apache.spark.sql.DataFrame) =
      Quantiles.gridQuantiles(d, "x", "grp", lo, hi, bits, qs)
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getDouble(3), r.getLong(4), r.getDouble(5))).sorted.toSeq
    // sum-merge law: build 2/3 + append 1/3 == one full build
    Quantiles.writeGridHistogram(df.filter(col("id") % 3 =!= 0), path,
      "x", "grp", lo, hi, bits)
    Quantiles.appendGridHistogram(df.filter(col("id") % 3 === 0), path,
      "x", "grp", lo, hi, bits)
    val full = plain(df)
    assert(full.nonEmpty && served(df) == full)
    // subtraction law: a negated partial nets to the survivor sketch —
    // estimate AND exact audit both match a from-scratch survivor run
    val survivors = df.filter(col("id") % 4 =!= 0)
    Quantiles.deleteGridHistogram(df.filter(col("id") % 4 === 0), path,
      "x", "grp", lo, hi, bits)
    val survPlain = plain(survivors)
    assert(served(survivors) == survPlain)
    // compaction: zero-logical-change, zero-netted cells dropped
    def files = new java.io.File(path).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    val mergedBefore = spark.read.parquet(path)
      .groupBy(col("stratum"), col("cell")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val filesBefore = files
    Quantiles.compactGridHistogram(spark, path)
    val stored = spark.read.parquet(path)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(stored == mergedBefore, "compaction changed the merged sketch")
    assert(stored.forall(_._3 != 0L), "a zero-netted cell survived compaction")
    assert(files < filesBefore, s"$files vs $filesBefore")
    assert(served(survivors) == survPlain)
  }

  test("out-of-domain values clamp to edge cells and stay counted") {
    import spark.implicits._
    val df = Seq(("a", -50.0), ("a", 2000.0), ("a", 500.0)).toDF("grp", "x")
    val h = Quantiles.gridHistogram(df, "x", "grp", lo, hi, bits)
      .collect().map(r => r.getLong(1) -> r.getLong(2)).toMap
    assert(h.values.sum == 3)
    assert(h.contains(0L) && h.contains(Quantize.maxCell(bits)))
  }
}
