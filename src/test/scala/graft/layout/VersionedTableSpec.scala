package graft.layout

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** The versioned table's contracts:
  *  1. every commit is a snapshot: read(asOf = v) reconstructs the
  *     exact post-commit state of v, whatever landed later;
  *  2. copy-on-write pruning: an upsert/delete rewrites ONLY segments
  *     whose key range intersects the change batch — untouched
  *     segments carry over by reference, file-identical;
  *  3. vacuum: retained versions stay exactly readable; everything
  *     unreferenced (old segments, crash debris) is physically gone,
  *     vacuumed versions fail loudly.
  */
class VersionedTableSpec extends AnyFunSuite with LocalSparkSuite {

  private def freshPath(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft_vt_$tag").toString + "/t"

  private def rows(path: String, asOf: Int = -1): Set[(Long, String)] =
    VersionedTable.read(spark, path, asOf)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet

  test("create/append/upsert/delete: each version is an exact snapshot") {
    import spark.implicits._
    val path = freshPath("snap")
    val v1 = (1L to 50L).map(k => (k, s"v1_$k")).toDF("k", "payload")
    VersionedTable.create(v1, path, "k")
    // v2: append disjoint keys
    VersionedTable.append(
      (51L to 70L).map(k => (k, s"v2_$k")).toDF("k", "payload"), path, "k")
    // v3: upsert — update 10..20, insert 80..85
    VersionedTable.upsert(
      ((10L to 20L) ++ (80L to 85L)).map(k => (k, s"v3_$k")).toDF("k", "payload"),
      path, "k")
    // v4: delete every 7th key
    VersionedTable.delete(
      (1L to 85L).filter(_ % 7 == 0).toDF("k"), path, "k")
    assert(VersionedTable.versions(spark, path) == Seq(1, 2, 3, 4))
    val s1 = (1L to 50L).map(k => (k, s"v1_$k")).toSet
    val s2 = s1 ++ (51L to 70L).map(k => (k, s"v2_$k"))
    val s3 = s2.filterNot { case (k, _) => k >= 10 && k <= 20 } ++
      ((10L to 20L) ++ (80L to 85L)).map(k => (k, s"v3_$k"))
    val s4 = s3.filterNot(_._1 % 7 == 0)
    assert(rows(path, 1) == s1)
    assert(rows(path, 2) == s2)
    assert(rows(path, 3) == s3)
    assert(rows(path, 4) == s4)
    assert(rows(path) == s4) // latest == newest version
    // history reflects the commit log
    val h = VersionedTable.history(spark, path)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toMap
    assert(h(1L) == s1.size.toLong && h(4L) == s4.size.toLong)
    // create on an existing table refuses
    intercept[IllegalArgumentException] {
      VersionedTable.create(v1, path, "k")
    }
  }

  test("copy-on-write pruning: range-disjoint segments carry over file-identical") {
    import spark.implicits._
    val path = freshPath("cow")
    VersionedTable.create(
      (1L to 100L).map(k => (k, s"lo_$k")).toDF("k", "payload"), path, "k")
    VersionedTable.append(
      (1000L to 1100L).map(k => (k, s"hi_$k")).toDF("k", "payload"), path, "k")
    def segFiles(seg: String): Set[(String, Long)] = {
      val d = new java.io.File(s"$path/$seg")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.lastModified())).toSet
    }
    val loBefore = segFiles("seg_v00001")
    // upsert touching ONLY the high range
    VersionedTable.upsert(
      (1050L to 1060L).map(k => (k, s"up_$k")).toDF("k", "payload"), path, "k")
    // the low segment's files are untouched (same names, same mtimes)
    assert(segFiles("seg_v00001") == loBefore)
    // and the new manifest references it by name, not a rewrite
    val orphansNone = VersionedTable.orphanSegments(spark, path)
    assert(!orphansNone.contains("seg_v00001"))
    // correctness of the merged state
    val expect = (1L to 100L).map(k => (k, s"lo_$k")).toSet ++
      (1000L to 1100L).map(k =>
        (k, if (k >= 1050 && k <= 1060) s"up_$k" else s"hi_$k"))
    assert(rows(path) == expect)
    // delete touching only the low range: high segment (v3's merge
    // output) untouched
    val hiBefore = segFiles("seg_v00003")
    VersionedTable.delete((1L to 10L).toDF("k"), path, "k")
    assert(segFiles("seg_v00003") == hiBefore)
    assert(rows(path) == expect.filterNot(_._1 <= 10))
  }

  test("vacuum: retained snapshots exact, unreferenced segments and crash debris gone") {
    import spark.implicits._
    val path = freshPath("gc")
    VersionedTable.create(
      (1L to 40L).map(k => (k, s"a_$k")).toDF("k", "payload"), path, "k")
    VersionedTable.upsert(
      (10L to 50L).map(k => (k, s"b_$k")).toDF("k", "payload"), path, "k")
    VersionedTable.delete((1L to 50L).filter(_ % 5 == 0).toDF("k"), path, "k")
    val v2 = rows(path, 2)
    val v3 = rows(path, 3)
    // plant crash debris: a segment written but never committed
    (1L to 3L).map(k => (k, "debris")).toDF("k", "payload")
      .write.parquet(s"$path/seg_v99999")
    assert(VersionedTable.orphanSegments(spark, path).contains("seg_v99999"))
    val (segs, mans) = VersionedTable.vacuum(spark, path, keepLast = 2)
    // v1's segment was rewritten by the v2 upsert (ranges overlap), so
    // exactly seg_v00001 + the debris go; exactly manifest v1 goes
    assert(segs == 2 && mans == 1, s"($segs, $mans)")
    assert(VersionedTable.orphanSegments(spark, path).isEmpty)
    assert(VersionedTable.versions(spark, path) == Seq(2, 3))
    // retained snapshots unchanged, vacuumed version fails loudly
    assert(rows(path, 2) == v2 && rows(path, 3) == v3 && rows(path) == v3)
    val ex = intercept[IllegalArgumentException] {
      VersionedTable.read(spark, path, asOf = 1)
    }
    assert(ex.getMessage.contains("vacuumed"))
  }

  test("compactSegments: one segment, zero logical change, old versions still travel") {
    import spark.implicits._
    val path = freshPath("cmp")
    VersionedTable.create(
      (1L to 30L).map(k => (k, s"a_$k")).toDF("k", "payload"), path, "k")
    VersionedTable.append(
      (31L to 60L).map(k => (k, s"b_$k")).toDF("k", "payload"), path, "k")
    VersionedTable.append(
      (61L to 90L).map(k => (k, s"c_$k")).toDF("k", "payload"), path, "k")
    val before = rows(path)
    val v2 = rows(path, 2)
    VersionedTable.compactSegments(spark, path, "k")
    // one live segment, identical content, prior snapshots intact
    val h = VersionedTable.history(spark, path)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(h(4L) == 1L && h(3L) == 3L)
    assert(rows(path) == before && rows(path, 2) == v2)
    // vacuum to the compacted version alone: the three old segments go
    val (segs, mans) = VersionedTable.vacuum(spark, path, keepLast = 1)
    assert(segs == 3 && mans == 3, s"($segs, $mans)")
    assert(rows(path) == before)
  }

  // the property optimizeCurve's bucketing rests on: the top bits of a
  // curve index ARE the coarse-cell index (subcell prefix), and an
  // encode at a wider element width agrees with the exact-width encode
  // for in-range coords (corner property)
  test("curve subcell-prefix and corner properties (both curves)") {
    import graft.core.SFC
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 500; hilbert <- Seq(true, false)) {
      val x = rnd.nextInt(256).toLong; val y = rnd.nextInt(256).toLong
      def enc(p: Array[Long], bits: Int): Long =
        if (hilbert) SFC.hilbertEncode(p, bits).lo else SFC.mortonEncode(p, bits).lo
      assert(enc(Array(x, y), 32) == enc(Array(x, y), 8)) // corner
      assert((enc(Array(x, y), 8) >>> 8) == enc(Array(x >> 4, y >> 4), 4)) // prefix
    }
  }

  test("optimizeCurve: clustered disjoint segments, two-level pruning, zero logical change") {
    import spark.implicits._
    val path = freshPath("opt")
    val pts = for (x <- 0 until 64; y <- 0 until 64)
      yield ((x * 64 + y).toLong, x, y, s"p${x}_$y")
    val df = pts.toDF("k", "x", "y", "payload")
    VersionedTable.create(df.filter(col("k") % 2 === 0), path, "k")
    VersionedTable.append(df.filter(col("k") % 2 === 1), path, "k")
    val before = VersionedTable.read(spark, path)
      .select("k", "x", "y", "payload").collect().toSet
    VersionedTable.optimizeCurve(spark, path, "k",
      Seq(Layout.QuantDim("x", 0.0, 64.0, 6), Layout.QuantDim("y", 0.0, 64.0, 6)),
      bucketBits = 4)
    // zero logical change on the original columns
    assert(VersionedTable.read(spark, path)
      .select("k", "x", "y", "payload").collect().toSet == before)
    // manifest: several segments, every one with curve stats, and the
    // stats are DISJOINT contiguous ranges (coarse-cell bucketing)
    val segs = VersionedTable.history(spark, path)
      .filter(col("version") === 3).collect()(0).getLong(1)
    assert(segs > 4, s"expected >4 curve segments, got $segs")
    // two-level pruning: a small box reads strictly fewer segments,
    // and the pruned read loses no rows vs the full-scan filter
    val desc = Layout.openQuantized(path)
    val ranges = desc.boxRanges(Seq(8.0, 8.0), Seq(20.0, 20.0))
    val (kept, total) = VersionedTable.pruneCurveSegments(spark, path, ranges)
    assert(kept.size < total, s"no segment pruning: ${kept.size}/$total")
    // stored curve ranges of optimize segments are pairwise disjoint
    // and ordered (coarse cells are contiguous disjoint index ranges)
    val (allKept, _) = VersionedTable.pruneCurveSegments(spark, path,
      Seq((0L, -1L))) // the whole u64 line: keeps every segment
    val cr = allKept.flatMap(_.curve).sortBy(_._1)
    assert(cr.size == segs)
    cr.sliding(2).foreach {
      case Seq((_, aHi), (bLo, _)) => assert(aHi < bLo, s"overlap: $cr")
      case _ =>
    }
    val pruned = VersionedTable.readCurveRanges(spark, path,
        Seq(8.0, 8.0), Seq(20.0, 20.0))
      .filter(col("x").between(8, 20) && col("y").between(8, 20))
    // the pruned scan's files all come from kept segments
    val keptDirs = kept.map(s => s"/${s.name}/").toSet
    assert(pruned.inputFiles.forall(f => keptDirs.exists(f.contains)))
    val expect = before.filter(r =>
      (8 to 20).contains(r.getInt(1)) && (8 to 20).contains(r.getInt(2)))
      .map(_.getLong(0))
    assert(pruned.select("k").collect().map(_.getLong(0)).toSet == expect)
    // a later plain delete leaves a stat-less segment that is never
    // pruned, and correctness holds across the mixed manifest
    VersionedTable.delete((0L to 200L).toDF("k"), path, "k")
    val pruned2 = VersionedTable.readCurveRanges(spark, path,
        Seq(8.0, 8.0), Seq(20.0, 20.0))
      .filter(col("x").between(8, 20) && col("y").between(8, 20))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(pruned2 == expect.filter(_ > 200))
  }

  test("optimizeIncremental: debris re-clustered, clean cells carried by reference") {
    import spark.implicits._
    val path = freshPath("opti")
    val pts = for (x <- 0 until 64; y <- 0 until 64)
      yield ((x * 64 + y).toLong, x, y, s"p${x}_$y")
    VersionedTable.create(pts.toDF("k", "x", "y", "payload"), path, "k")
    VersionedTable.optimizeCurve(spark, path, "k",
      Seq(Layout.QuantDim("x", 0.0, 64.0, 6), Layout.QuantDim("y", 0.0, 64.0, 6)),
      bucketBits = 4)
    // CDC degradation: keys 0..400 live in x <= 6, so only the
    // low-x coarse cells' key ranges intersect — the rest carry over
    VersionedTable.upsert(
      (0L to 400L).map(k => (k, (k / 64).toInt, (k % 64).toInt, s"up_$k"))
        .toDF("k", "x", "y", "payload"), path, "k")
    def liveSegs(): Map[String, Set[(String, Long)]] =
      VersionedTable.read(spark, path).inputFiles.toSeq
        .map { f =>
          val p = new java.io.File(new java.net.URI(f).getPath)
          (p.getParentFile.getName, (p.getName, p.lastModified()))
        }.groupBy(_._1).map { case (s, fs) => s -> fs.map(_._2).toSet }
    val afterUpsert = liveSegs()
    val debrisName = afterUpsert.keys.filter(_.startsWith("seg_v00003")).toSeq
    assert(debrisName.size == 1) // the upsert's single merged rewrite
    val cleanBefore = afterUpsert.view.filterKeys(_.startsWith("seg_v00002")).toMap
    assert(cleanBefore.size >= 8, s"expected most cells clean: $cleanBefore")
    // incremental: only the dirty cells rewrite
    assert(VersionedTable.optimizeIncremental(spark, path, "k"))
    val after = liveSegs()
    // every clean cell carried over file-identical
    cleanBefore.foreach { case (seg, files) =>
      assert(after(seg) == files, s"clean segment $seg was rewritten") }
    // debris is gone from the live set; all live segments carry stats
    assert(!after.contains(debrisName.head))
    val (allSegs, total) = VersionedTable.pruneCurveSegments(spark, path,
      Seq((0L, -1L)))
    assert(allSegs.size == total && allSegs.forall(_.curve.isDefined))
    // logical content == the upserted state, and a box query agrees
    val expect = pts.map { case (k, x, y, p) =>
      (k, x, y, if (k <= 400) s"up_$k" else p) }.toSet
    assert(VersionedTable.read(spark, path)
      .select("k", "x", "y", "payload").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet == expect)
    val box = VersionedTable.readCurveRanges(spark, path,
        Seq(0.0, 0.0), Seq(10.0, 10.0))
      .filter(col("x").between(0, 10) && col("y").between(0, 10))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(box == expect.filter(r => r._2 <= 10 && r._3 <= 10).map(_._1))
    // no debris left -> the second call is a no-op
    assert(!VersionedTable.optimizeIncremental(spark, path, "k"))
  }

  test("readKeyRange: manifest-level key pruning reads only intersecting segments") {
    import spark.implicits._
    val path = freshPath("keyrange")
    VersionedTable.create(
      (1L to 100L).map(k => (k, s"a_$k")).toDF("k", "payload"), path, "k")
    VersionedTable.append(
      (1000L to 1100L).map(k => (k, s"b_$k")).toDF("k", "payload"), path, "k")
    val got = VersionedTable.readKeyRange(spark, path, "k", 1020L, 1040L)
    assert(got.inputFiles.forall(_.contains("/seg_v00002/")))
    assert(got.collect().map(_.getLong(0)).toSet == (1020L to 1040L).toSet)
    // a range hitting no segment returns empty without error
    assert(VersionedTable.readKeyRange(spark, path, "k", 500L, 600L).count() == 0)
  }

  test("changesBetween: ops from differing segments only; rewrites diff to zero") {
    import spark.implicits._
    val path = freshPath("cdf")
    VersionedTable.create( // v1: low keys with x,y for the optimize step
      (1L to 50L).map(k => (k, (k % 8).toInt, (k % 5).toInt, s"lo_$k"))
        .toDF("k", "x", "y", "payload"), path, "k")
    VersionedTable.append( // v2: high keys
      (100L to 140L).map(k => (k, (k % 8).toInt, (k % 5).toInt, s"hi_$k"))
        .toDF("k", "x", "y", "payload"), path, "k")
    VersionedTable.upsert( // v3: update 100..110, insert 200..205
      ((100L to 110L) ++ (200L to 205L))
        .map(k => (k, (k % 8).toInt, (k % 5).toInt, s"up_$k"))
        .toDF("k", "x", "y", "payload"), path, "k")
    def changes(a: Int, b: Int): Map[String, Set[Long]] =
      VersionedTable.changesBetween(spark, path, a, b, "k").collect()
        .groupBy(_.getString(1)).map { case (op, rs) =>
          op -> rs.map(_.getLong(0)).toSet }
    val c23 = changes(2, 3)
    assert(c23.getOrElse("update", Set()) == (100L to 110L).toSet)
    assert(c23.getOrElse("insert", Set()) == (200L to 205L).toSet)
    assert(!c23.contains("delete")) // 111..140 rewritten but unchanged
    val c13 = changes(1, 3)         // relative to v1, the high keys are inserts
    assert(c13.getOrElse("insert", Set()) ==
      ((100L to 140L) ++ (200L to 205L)).toSet)
    // changedRows: the payload twin — updated keys carry OLD content
    // in removed and NEW content in added; unchanged carried-along
    // rows appear in neither
    val (rem, add) = VersionedTable.changedRows(spark, path, 2, 3, "k")
    def kp(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select("k", "payload").collect()
        .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(kp(rem) == (100L to 110L).map(k => (k, s"hi_$k")).toSet)
    assert(kp(add) == ((100L to 110L) ++ (200L to 205L))
      .map(k => (k, s"up_$k")).toSet)
    // compaction rewrites everything, changes nothing
    VersionedTable.compactSegments(spark, path, "k")
    assert(VersionedTable.changesBetween(spark, path, 3, 4, "k").count() == 0)
    // optimize adds its key column; the common-schema diff is still zero
    VersionedTable.optimizeCurve(spark, path, "k",
      Seq(Layout.QuantDim("x", 0.0, 8.0, 3), Layout.QuantDim("y", 0.0, 8.0, 3)),
      bucketBits = 2)
    assert(VersionedTable.changesBetween(spark, path, 4, 5, "k").count() == 0)
    // a delete after optimize: tombstoned keys emit, survivors in the
    // rewritten segment stay silent (ckey column compares equal)
    VersionedTable.delete((1L to 10L).toDF("k"), path, "k")
    val c56 = changes(5, 6)
    assert(c56 == Map("delete" -> (1L to 10L).toSet))
  }

  test("upsert dedupes within the change batch by orderCols; empty batches are no-ops") {
    import spark.implicits._
    val path = freshPath("ord")
    VersionedTable.create(
      (1L to 10L).map(k => (k, s"base_$k", 0L)).toDF("k", "payload", "ver"),
      path, "k")
    // two rows per key in one batch: newest (highest ver) must win
    val batch = (1L to 5L).flatMap(k =>
      Seq((k, s"old_$k", 1L), (k, s"new_$k", 2L))).toDF("k", "payload", "ver")
    VersionedTable.upsert(batch, path, "k", Seq(col("ver").desc))
    val got = VersionedTable.read(spark, path)
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    val expect = (1L to 5L).map(k => (k, s"new_$k")).toSet ++
      (6L to 10L).map(k => (k, s"base_$k"))
    assert(got == expect)
    // empty upsert and delete leave the version count unchanged
    val vBefore = VersionedTable.currentVersion(spark, path)
    VersionedTable.upsert(batch.filter(col("k") < 0), path, "k")
    VersionedTable.delete(batch.filter(col("k") < 0).select(col("k")), path, "k")
    assert(VersionedTable.currentVersion(spark, path) == vBefore)
  }
}
