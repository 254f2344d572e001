package graft.core

import scala.collection.mutable.ArrayBuffer

/** Axis-aligned box -> curve-index range decomposition, the query-time
  * half of the reference's layout story: once a table is written in
  * curve order (reference docs/README.md:53-72 — `ORDER BY
  * hilbert_encode(...)`), a multi-dimensional range query becomes a
  * union of CONTIGUOUS key ranges, i.e. a pushdown-able disjunction of
  * BETWEENs on ONE sort-key column. The reference leaves this step to
  * the user ("your range filters now align with row groups"); here it
  * is computed exactly.
  *
  * The decomposition rests on one structural property shared by Morton
  * and Hilbert curves: an axis-aligned subcube of side 2^(bits-k)
  * whose origin is a multiple of its side ("aligned cell") is visited
  * by the curve in ONE contiguous, ALIGNED run of 2^(n*(bits-k))
  * indices — the top n*k index bits select the cell, the low bits
  * enumerate it. (Morton: the top n*k bits are the interleave of the
  * coordinate prefixes. Hilbert: Skilling's transform is a bijection
  * on each k-prefix level, so the same holds; CurveRangesSpec proves
  * it exhaustively at small bits.) So a cell's whole index block is
  * recovered from ONE full-depth encode of its origin corner by
  * clearing the low n*(bits-k) bits.
  *
  * The traversal is a budgeted BREADTH-FIRST refinement from the root
  * cell: disjoint cells are dropped, fully-contained cells emit their
  * block, partial cells split into 2^n children — level by level,
  * until the expansion budget is spent, after which the remaining
  * partial cells emit their whole block (an OVER-approximation:
  * ranges may only ever admit false positives, never lose a point,
  * because callers re-check the exact per-dimension predicates — the
  * ranges are a pruning accelerator, not the filter). Breadth-first
  * matters when the budget binds (high dimensionality / fine grids,
  * where the exact decomposition's boundary-cell count explodes): the
  * budget then buys a UNIFORM resolution over the whole box instead
  * of single-cell resolution in one corner and near-root blocks
  * everywhere else — measured 4-D skip went from 37/56 to beating
  * per-dimension stats after the DFS->BFS switch (BASELINE.md).
  * Ranges are then merged and, if still over `maxRanges`, coarsened
  * by keeping only the widest inter-range gaps — again only ever
  * widening coverage.
  *
  * Scale: driver-side, data-independent, O(budget * 2^n * bits) —
  * microseconds for any realistic query box; the cluster only ever
  * sees the final range list as scan predicates.
  */
object CurveRanges {

  /** Inclusive u64 index ranges (unsigned semantics) covering every
    * point of the box `[lo_i, hi_i]` (inclusive, per dimension) in a
    * `bits`-per-dimension grid. Requires n*bits <= 64 (the sort-key
    * regime — wider keys order as 16-byte binary where a BETWEEN list
    * still works but is not the hot path). */
  def ranges(hilbert: Boolean, lo: Array[Long], hi: Array[Long], bits: Int,
      maxRanges: Int = 64, maxExpand: Int = 4096): Seq[(Long, Long)] = {
    val n = lo.length
    require(hi.length == n && n >= 1, "lo/hi arity mismatch")
    require(bits >= 1 && n * bits <= 64, s"n=$n bits=$bits exceeds the 64-bit key")
    require(maxRanges >= 1 && maxExpand >= 0)
    // 1-D: both curves are the identity on a single axis (asserted in
    // CurveRangesSpec), so the box IS its own single key range. This
    // also covers bits = 64, where the traversal's (1L << bits)
    // arithmetic would overflow (round-7 ADVICE); for n >= 2 the
    // n*bits <= 64 contract caps bits at 32.
    if (n == 1) {
      require(java.lang.Long.compareUnsigned(lo(0), hi(0)) <= 0 &&
        (bits == 64 || java.lang.Long.compareUnsigned(hi(0), (1L << bits) - 1L) <= 0),
        s"1-D box [${lo(0)}, ${hi(0)}] outside the ${bits}-bit grid (u64 semantics)")
      return Seq((lo(0), hi(0)))
    }
    val max = (1L << bits) - 1L // bits <= 32 here, no overflow
    var d = 0
    while (d < n) {
      require(lo(d) >= 0 && hi(d) <= max && lo(d) <= hi(d),
        s"box dimension $d [${lo(d)}, ${hi(d)}] outside the ${bits}-bit grid")
      d += 1
    }

    val out = ArrayBuffer.empty[(Long, Long)]
    var expanded = 0

    // an origin is dead once emitted, so the Hilbert encode may overwrite
    // it instead of copying it
    def encode(origin: Array[Long]): Long =
      (if (hilbert) SFC.hilbertEncodeInPlace(origin, bits, n) else SFC.mortonEncode(origin, bits, n)).lo

    def emit(origin: Array[Long], level: Int): Unit = {
      val blockBits = n * (bits - level)
      val e = encode(origin)
      if (blockBits >= 64) out += ((0L, -1L)) // root: the whole u64 line
      else {
        val m = (1L << blockBits) - 1L
        out += ((e & ~m, (e & ~m) | m))
      }
    }

    // breadth-first refinement queue of (origin, level) partial cells
    val queue = new java.util.ArrayDeque[(Array[Long], Int)]()

    def classify(origin: Array[Long], level: Int): Unit = {
      val side = 1L << (bits - level)
      var i = 0
      var disjoint = false
      var contained = true
      while (i < n) {
        val o = origin(i)
        val cHi = o + side - 1
        if (cHi < lo(i) || o > hi(i)) disjoint = true
        if (o < lo(i) || cHi > hi(i)) contained = false
        i += 1
      }
      if (!disjoint) {
        if (contained || level == bits) emit(origin, level)
        else queue.addLast((origin, level))
      }
    }

    classify(new Array[Long](n), 0)
    while (!queue.isEmpty && expanded < maxExpand) {
      val (origin, level) = queue.pollFirst()
      expanded += 1
      val half = 1L << (bits - level - 1)
      var m = 0
      while (m < (1 << n)) {
        val child = new Array[Long](n)
        var d2 = 0
        while (d2 < n) {
          child(d2) = origin(d2) + (if (((m >> d2) & 1) == 1) half else 0L)
          d2 += 1
        }
        classify(child, level + 1)
        m += 1
      }
    }
    // budget exhausted: whatever is still queued covers its whole cell
    queue.forEach { case (origin, level) => emit(origin, level) }
    coarsen(mergeAdjacent(out), maxRanges)
  }

  /** Sort (unsigned) and merge overlapping or touching ranges. */
  private def mergeAdjacent(rs: ArrayBuffer[(Long, Long)]): ArrayBuffer[(Long, Long)] = {
    val sorted = rs.sortWith((a, b) => java.lang.Long.compareUnsigned(a._1, b._1) < 0)
    val merged = ArrayBuffer.empty[(Long, Long)]
    sorted.foreach { case (a, b) =>
      if (merged.nonEmpty &&
          (java.lang.Long.compareUnsigned(a, merged.last._2) <= 0 ||
            a - merged.last._2 == 1L))
        merged(merged.size - 1) = (merged.last._1,
          if (java.lang.Long.compareUnsigned(b, merged.last._2) > 0) b else merged.last._2)
      else merged += ((a, b))
    }
    merged
  }

  /** Reduce to at most `maxRanges` ranges by bridging the NARROWEST
    * inter-range gaps first (equivalently: keep the maxRanges-1 widest
    * gaps as separators) — deterministic, and only ever widens
    * coverage. */
  private def coarsen(merged: ArrayBuffer[(Long, Long)], maxRanges: Int): Seq[(Long, Long)] = {
    if (merged.size <= maxRanges) return merged.toSeq
    // gap i sits between range i and i+1; width as u64 (starts exceed
    // preceding ends by construction after merge)
    val keep = (0 until merged.size - 1)
      .sortWith { (i, j) =>
        val gi = merged(i + 1)._1 - merged(i)._2
        val gj = merged(j + 1)._1 - merged(j)._2
        val c = java.lang.Long.compareUnsigned(gi, gj)
        if (c != 0) c > 0 else i < j // widest gaps first; ties by position
      }
      .take(maxRanges - 1)
      .toSet
    val out = ArrayBuffer.empty[(Long, Long)]
    var start = merged(0)._1
    var i = 0
    while (i < merged.size) {
      if (i == merged.size - 1 || keep(i)) {
        out += ((start, merged(i)._2))
        if (i < merged.size - 1) start = merged(i + 1)._1
      }
      i += 1
    }
    out.toSeq
  }
}
