package graft.sketch

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.layout.Quantize
import graft.text.TextFunctions

/** Deterministic grid quantile sketch — the order-statistics member of
  * the sketch family next to the KMV distinct sketch and the count-min
  * frequency sketch ([[graft.text.CorpusOps.kmvDistinctShingles]],
  * [[graft.text.CorpusOps.cmsTokenCounts]]): per-stratum counts over
  * the [[graft.layout.Quantize]] grid, mergeable by plain summation,
  * from which any quantile is answered within one grid cell WITHOUT a
  * per-stratum sort. Like its siblings (and unlike t-digest/KLL, whose
  * estimates depend on merge order and RNG), the sketch is a pure
  * function of the data, so the DuckDB oracle reproduces every output
  * bit-for-bit — an oracle-gated approximate-quantile.
  *
  * Guarantee (exact, not probabilistic): the estimated cell for rank r
  * IS the grid cell of the true r-th smallest value — the smallest
  * cell whose cumulative count reaches r, by monotonicity of
  * [[Quantize.grid]] — so the value estimate (the cell's upper edge)
  * is off by at most one cell width (hi-lo)/2^bits. QuantilesSpec
  * asserts the cell identity and the merge law.
  *
  * Shape at 100 TB: the sketch build is ONE partial hash aggregate
  * (map-side combine collapses each partition to <= strata * 2^bits
  * rows before the shuffle); the cumulative window runs on the
  * SKETCH-sized frame, never the corpus. The exact branch kept
  * alongside is the AUDIT: since round 9 it no longer sorts the
  * corpus — the sketch localizes each true quantile to its cell and
  * in-cell rank, so the audit scan filters to target-cell rows and
  * sorts only those. A sketch-only pipeline drops it and nothing else
  * changes, same convention as the KMV sketch's exact_distinct.
  */
object Quantiles {

  /** The sketch itself: (stratum, cell, cnt), at most strata * 2^bits
    * rows. Merging shards = summing cnt per (stratum, cell), which is
    * exactly the groupBy — the same merge-by-aggregation law as the
    * CMS sketch. */
  def gridHistogram(df: DataFrame, valueCol: String, strataCol: String,
      lo: Double, hi: Double, bits: Int): DataFrame =
    df.select(col(strataCol).as("stratum"),
        Quantize.grid(col(valueCol), lo, hi, bits).as("cell"))
      .groupBy(col("stratum"), col("cell"))
      .agg(count(lit(1)).as("cnt"))

  /** Quantile estimates from the sketch, with the exact discrete
    * quantile alongside for audit. `qPpm` are quantile ranks in parts
    * per million (e.g. 500000 = median); the rank is the lower
    * discrete quantile r = max(1, ceil(q * n / 1e6)) — the same
    * deterministic definition as [[graft.text.CorpusOps.domainStats]]'
    * median. Output: (stratum, q_ppm, n, exact_value, est_cell,
    * est_value) where est_cell = grid cell of the true quantile value
    * (asserted) and est_value = the cell's upper edge lo+(cell+1)*step
    * — every arithmetic step a single IEEE double op mirrored exactly
    * by the oracle ([[graft.oracle.SketchSql.gridQuantiles]]). */
  def gridQuantiles(df: DataFrame, valueCol: String, strataCol: String,
      lo: Double, hi: Double, bits: Int, qPpm: Seq[Long]): DataFrame = {
    val base = prep(df, valueCol, strataCol)
    quantilesWith(base, gridHistogram(base, "v", "stratum", lo, hi, bits),
      lo, hi, bits, qPpm)
  }

  /** The null-dropped (stratum, v) frame every entry point ranks over.
    * NULL values carry no rank: Spark would sort a NULL cell FIRST in
    * the cumulative window while DuckDB defaults to NULLS LAST,
    * shifting every count (round-8 ADVICE) — both engines drop them
    * up front instead, so n counts exactly the ranked values. */
  private def prep(df: DataFrame, valueCol: String,
      strataCol: String): DataFrame =
    df.select(col(strataCol).as("stratum"),
        col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)

  /** PERSISTED grid-histogram lifecycle — the order-statistics sketch
    * joins the full verb set (build / append / DELETE / compact /
    * serve) alongside the CMS
    * ([[graft.text.CorpusOps.writeCmsSketch]]): a cell count is a
    * plain SUM, so a batch's partial is its own (stratum, cell, cnt)
    * histogram, appends are pure file adds, and a deletion appends
    * the departed rows' histogram NEGATED — exact subtraction under
    * the family's must-have-been-ingested contract, so the merged
    * sketch equals a from-scratch histogram over the survivors
    * bit-for-bit (q_sketch_quantile_indexed / _delete gate both paths
    * against the plain oracle). (lo, hi, bits) are the artifact's
    * identity — every verb must use the build's grid, the frozen-
    * geometry convention of the PQ codebooks.
    *
    * Shape at 100 TB: a partial is <= strata * 2^bits rows however
    * large the batch; the batch's own map-side-combined histogram
    * aggregate is the only batch-sized stage, and serve merges
    * partials with one sketch-sized sum. */
  def writeGridHistogram(df: DataFrame, path: String, valueCol: String,
      strataCol: String, lo: Double, hi: Double, bits: Int): Unit =
    gridHistogram(prep(df, valueCol, strataCol), "v", "stratum", lo, hi, bits)
      .write.mode("overwrite").parquet(path)

  /** Append a batch's histogram partial (pure file add). */
  def appendGridHistogram(batch: DataFrame, path: String, valueCol: String,
      strataCol: String, lo: Double, hi: Double, bits: Int): Unit =
    gridHistogram(prep(batch, valueCol, strataCol), "v", "stratum", lo, hi, bits)
      .write.mode("append").parquet(path)

  /** DELETE rows from a persisted grid histogram: append their
    * histogram with every count negated. `df` must be the deleted
    * rows themselves, previously ingested. */
  def deleteGridHistogram(df: DataFrame, path: String, valueCol: String,
      strataCol: String, lo: Double, hi: Double, bits: Int): Unit =
    gridHistogram(prep(df, valueCol, strataCol), "v", "stratum", lo, hi, bits)
      .select(col("stratum"), col("cell"), (-col("cnt")).as("cnt"))
      .write.mode("append").parquet(path)

  /** Compact a grid-histogram artifact grown by appends and deletes:
    * one merged partial, zero-netted cells dropped (absent = zero
    * under the sum merge — zero-logical-change, spec'd), atomic swap,
    * stream markers preserved. */
  def compactGridHistogram(spark: org.apache.spark.sql.SparkSession,
      path: String): Unit =
    // a sketch is KBs at any corpus size — one output file IS the point
    graft.core.DirSwap.replace(spark, path)(
      histogramMerged(spark, path).coalesce(1).write.mode("overwrite").parquet(_))

  /** The grid-histogram merge law, shared by serve and compaction: sum
    * per (stratum, cell), zero-netted cells dropped. recursiveFileLookup:
    * flat build/append/delete files plus any per-batch dirs an ingest
    * loop commits (the CMS convention). */
  private def histogramMerged(spark: org.apache.spark.sql.SparkSession,
      path: String): DataFrame =
    spark.read.option("recursiveFileLookup", "true").parquet(path)
      .groupBy(col("stratum"), col("cell")).agg(sum(col("cnt")).as("cnt"))
      .filter(col("cnt") =!= 0L)

  /** Serve quantiles from a persisted grid histogram: sum-merge the
    * stored partials (sketch-sized), then the same estimate + exact
    * audit as [[gridQuantiles]] — pass the SURVIVOR frame `df` after
    * deletions; the audit branch scans it, the sketch never does. */
  def gridQuantilesFromSketch(spark: org.apache.spark.sql.SparkSession,
      df: DataFrame, path: String, valueCol: String, strataCol: String,
      lo: Double, hi: Double, bits: Int, qPpm: Seq[Long]): DataFrame =
    quantilesWith(prep(df, valueCol, strataCol), histogramMerged(spark, path),
      lo, hi, bits, qPpm)

  /** The shared core: estimate from `sketch`, exact audit from
    * `base` — both in the (stratum, ...) shapes [[prep]] and
    * [[gridHistogram]] produce. */
  private def quantilesWith(base: DataFrame, sketch: DataFrame,
      lo: Double, hi: Double, bits: Int, qPpm: Seq[Long]): DataFrame = {
    require(qPpm.nonEmpty && qPpm.forall(q => q >= 1 && q <= 1000000L),
      s"quantile ranks are ppm in [1, 1e6]: $qPpm")
    // ONE corpus scan builds the sketch; per-stratum totals come from
    // the sketch itself (a second window over the SAME exchange), not
    // a second scan. Everything after runs on the sketch-sized frame.
    val cum = sketch
      .select(col("stratum"), col("cell"), col("cnt"),
        sum(col("cnt")).over(Window.partitionBy(col("stratum")).orderBy(col("cell")))
          .as("cum"),
        sum(col("cnt")).over(Window.partitionBy(col("stratum"))).as("n"))
    // Estimate + audit locator in ONE sketch-sized aggregation: each
    // sketch row carries its stratum's n, so the target rank needs no
    // separate rank table (round 8 built ranks via a distinct + two
    // broadcast joins back into the sketch — three stages this fuses
    // away, round-8 verdict ask #7). min(struct) picks the smallest
    // cell whose cumulative count reaches the rank, carrying that
    // cell's (cum, cnt) along for the audit's in-cell rank.
    val est = cum
      .select(col("stratum"), col("cell"), col("cnt"), col("cum"), col("n"),
        explode(array(qPpm.map(lit): _*)).as("q_ppm"))
      .withColumn("r", greatest(lit(1L), TextFunctions.intDiv(
        col("q_ppm") * col("n") + lit(999999L), lit(1000000L))))
      .filter(col("cum") >= col("r"))
      .groupBy(col("stratum"), col("q_ppm"), col("n"), col("r"))
      .agg(min(struct(col("cell"), col("cum"), col("cnt"))).as("mc"))
      .select(col("stratum"), col("q_ppm"), col("n"),
        col("mc").getField("cell").as("est_cell"),
        (col("r") - (col("mc").getField("cum") - col("mc").getField("cnt")))
          .as("loc_r"))
    // audit branch: the true r-th smallest value. Round-8 shipped this
    // as a corpus-wide per-stratum row_number sort — the query's 2nd
    // corpus scan and most of its bench cost. The sketch itself makes
    // that sort unnecessary: the true quantile value LIVES in est_cell
    // (the cell-identity guarantee), its ranks within the stratum
    // occupy exactly (cum - cnt, cum], and equal values always share a
    // cell — so the r-th smallest overall is the loc_r-th smallest
    // WITHIN the cell. The second scan is a narrow projection +
    // broadcast-join filter keeping only target-cell rows, and the
    // sort window runs on those few rows, never the corpus. Same value
    // out, bit for bit (QuantilesSpec asserts against a driver-side
    // full sort, incl. heavy ties).
    val exact = base
      .withColumn("cell", Quantize.grid(col("v"), lo, hi, bits))
      .join(broadcast(est), Seq("stratum")) // fans out per matching q
      .filter(col("cell") === col("est_cell"))
      .withColumn("rn", row_number()
        .over(Window.partitionBy(col("stratum"), col("q_ppm")).orderBy(col("v")))
        .cast("long"))
      .filter(col("rn") === col("loc_r"))
      .select(col("stratum"), col("q_ppm"), col("v").as("exact_value"))
    val step = (hi - lo) / Quantize.maxCell(bits)
    broadcast(est).join(exact, Seq("stratum", "q_ppm"))
      .select(col("stratum"), col("q_ppm"), col("n"), col("exact_value"),
        col("est_cell"),
        (lit(lo) + (col("est_cell") + lit(1L)) * lit(step)).as("est_value"))
  }
}
