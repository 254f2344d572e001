package graft.layout

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

class LayoutSpec extends AnyFunSuite with LocalSparkSuite {

  test("hilbert-ordered parquet: row groups skippable for 2-D box, result set intact") {
    import spark.implicits._
    // 256x256 grid in a deterministic scrambled order (hash of the id)
    // — the "natural" layout has no spatial locality at all
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x * 256 + y, x, y)))
      .toDF("id", "x", "y")
      .orderBy(md5(col("id").cast("string")))
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_spec"
    Layout.writeHilbertOrdered(grid, Seq("x", "y"), s"$base/hilbert", rowGroupBytes = 16 * 1024)
    Layout.writeNaturalOrder(grid, s"$base/natural", rowGroupBytes = 16 * 1024)

    val (totH, skipH) = Layout.countSkippable(s"$base/hilbert", "x", 32, 47, "y", 32, 47)
    val (totN, skipN) = Layout.countSkippable(s"$base/natural", "x", 32, 47, "y", 32, 47)
    assert(totH > 4, s"expected several row groups, got $totH")
    // hilbert clusters the 8x8 box into few groups; scrambled order has
    // full-range stats everywhere
    assert(skipH.toDouble / totH > 0.5, s"hilbert skippable $skipH/$totH")
    assert(skipN == 0, s"scrambled layout should have no skippable groups, got $skipN/$totN")

    // pruning must not change the result set
    val got = spark.read.parquet(s"$base/hilbert")
      .filter(col("x").between(32, 47) && col("y").between(32, 47))
      .select("id").as[Int].collect().sorted
    val want = (32 to 47).flatMap(x => (32 to 47).map(y => x * 256 + y)).sorted
    assert(got.toSeq == want)
  }

  test("morton-ordered parquet: row groups skippable for 2-D box, result set intact") {
    import spark.implicits._
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x * 256 + y, x, y)))
      .toDF("id", "x", "y")
      .orderBy(md5(col("id").cast("string")))
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_spec_m"
    Layout.writeMortonOrdered(grid, Seq("x", "y"), s"$base/morton", rowGroupBytes = 16 * 1024)

    val (totM, skipM) = Layout.countSkippable(s"$base/morton", "x", 32, 47, "y", 32, 47)
    assert(totM > 4, s"expected several row groups, got $totM")
    // Z-order clusters the box nearly as well as hilbert (one extra
    // seam per quadrant crossing)
    assert(skipM.toDouble / totM > 0.5, s"morton skippable $skipM/$totM")

    val got = spark.read.parquet(s"$base/morton")
      .filter(col("x").between(32, 47) && col("y").between(32, 47))
      .select("id").as[Int].collect().sorted
    val want = (32 to 47).flatMap(x => (32 to 47).map(y => x * 256 + y)).sorted
    assert(got.toSeq == want)
  }

  test("indexed layout + curve ranges: key-range pruning pushes down, result set intact") {
    import spark.implicits._
    graft.functions.Curves.register(spark)
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x * 256 + y, x, y)))
      .toDF("id", "x", "y")
      .orderBy(md5(col("id").cast("string")))
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_spec_idx"
    Layout.writeHilbertIndexed(grid, Seq("x", "y"), base, rowGroupBytes = 16 * 1024)

    val rs = graft.core.CurveRanges.ranges(hilbert = true,
      Array(32L, 32L), Array(47L, 47L), bits = 32, maxRanges = 16)
    val q = spark.read.parquet(base)
      .filter(Layout.curveRangePredicate(col("hkey"), rs) &&
        col("x").between(32, 47) && col("y").between(32, 47))

    // the hkey range disjunction reaches the parquet scan
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("hkey"),
      s"expected hkey ranges in PushedFilters:\n$plan")

    // the hkey ranges alone prune row groups the per-dimension stats
    // also prune — and the final result set is exactly the box
    val got = q.select("id").as[Int].collect().sorted
    val want = (32 to 47).flatMap(x => (32 to 47).map(y => x * 256 + y)).sorted
    assert(got.toSeq == want)

    // pruning power of the key ranges themselves, measured on footer
    // stats of the ONE sort column: an aligned 16x16 box in hilbert
    // order is a handful of contiguous key runs, so most groups fall
    // outside every run
    val groups = Layout.rowGroupRanges(base, "hkey")
    val skipped = groups.count { case (mn, mx, _) =>
      !rs.exists { case (a, b) =>
        val (sa, sb) = (a ^ Long.MinValue, b ^ Long.MinValue)
        sa <= mx && sb >= mn
      }
    }
    assert(groups.size > 4 && skipped.toDouble / groups.size > 0.5,
      s"hkey-range skippable $skipped/${groups.size}")
  }

  test("compaction: bucket-partitioned ingest upgraded to a globally key-sorted indexed layout") {
    import spark.implicits._
    graft.functions.Curves.register(spark)
    val grid = (0 until 256).flatMap(x => (0 until 256).map(y => (x * 256 + y, x, y)))
      .toDF("id", "x", "y")
      .orderBy(md5(col("id").cast("string"))) // stream-ish arrival order
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_spec_compact"
    // the streaming sink's layout shape: coarse curve-bucket partitions,
    // arrival order within each partition
    grid.withColumn("curve_bucket",
        Layout.curveBucket(60, col("x").cast("int"), col("y").cast("int")))
      .write.mode("overwrite").partitionBy("curve_bucket").parquet(s"$base/ingested")

    val ingested = spark.read.parquet(s"$base/ingested")
    Layout.compactIndexed(ingested, Seq("x", "y"), s"$base/compacted",
      rowGroupBytes = 16 * 1024)

    val compacted = spark.read.parquet(s"$base/compacted")
    // no rows lost, bucket column dropped
    assert(compacted.count() == 256L * 256)
    assert(!compacted.columns.contains("curve_bucket"))

    // globally key-sorted: consecutive row groups cover increasing,
    // non-overlapping hkey intervals — the property that makes footer
    // stats and key-range pruning exact
    val groups = Layout.rowGroupRanges(s"$base/compacted", "hkey")
    assert(groups.size > 4)
    groups.sliding(2).foreach {
      case Seq((_, max1, _), (min2, _, _)) => assert(min2 >= max1)
      case _                               =>
    }

    // and the compacted layout prunes like any indexed write
    val rs = graft.core.CurveRanges.ranges(hilbert = true,
      Array(32L, 32L), Array(47L, 47L), bits = 32, maxRanges = 16)
    val skipped = groups.count { case (mn, mx, _) =>
      !rs.exists { case (a, b) =>
        (a ^ Long.MinValue) <= mx && (b ^ Long.MinValue) >= mn
      }
    }
    assert(skipped.toDouble / groups.size > 0.5, s"$skipped/${groups.size}")
  }

  test("rowGroupRanges reads footer stats") {
    import spark.implicits._
    val df = (0 until 1000).map(i => (i, i * 2)).toDF("a", "b")
    val path = System.getProperty("java.io.tmpdir") + "/graft_layout_spec_stats"
    Layout.writeNaturalOrder(df.coalesce(1), path)
    val ranges = Layout.rowGroupRanges(path, "a")
    assert(ranges.map(_._3).sum == 1000L)
    assert(ranges.map(_._1).min == 0L && ranges.map(_._2).max == 999L)
  }

  test("partition-scoped upsert: merge is exact, untouched partition keeps its exact files") {
    import spark.implicits._
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_upsert_spec"
    // wipe any previous run: file-identity assertions below need a
    // fresh write
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val rows = (1L to 300L).map(i => (i, s"p${i % 3}", i * 10, s"v$i"))
    rows.toDF("k", "p", "ver", "payload")
      .write.mode("overwrite").partitionBy("p").parquet(base)
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$base/p=$part")
      d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = Map("p0" -> files("p0"), "p1" -> files("p1"), "p2" -> files("p2"))

    // change batch: update half of p1's keys with a newer version and
    // insert one brand-new key into p1; p0 and p2 untouched
    val changes = ((1L to 300L).filter(i => i % 3 == 1 && i % 2 == 0)
      .map(i => (i, "p1", i * 10 + 1, s"upd$i")) :+ ((1000L, "p1", 5L, "new")))
      .toDF("k", "p", "ver", "payload")
    Layout.upsertPartitioned(base, changes, "p", Seq("k"), Seq(col("ver").desc))

    // semantics: newest version per key; untouched partitions intact
    // read-back schema: (k, ver, payload) + appended partition col p
    val got = spark.read.parquet(base)
      .collect().map(r => (r.getLong(0), r.getString(2), r.getLong(1), r.getString(3)))
      .toSet
    val want = (rows.map { case (k, p, ver, pay) =>
      if (p == "p1" && k % 2 == 0) (k, s"upd$k", ver + 1, p) else (k, pay, ver, p)
    } :+ ((1000L, "new", 5L, "p1"))).toSet
    assert(got == want)

    // the untouched partition DIRECTORIES still hold byte-identical
    // file sets (same names, same mtimes) — not rewritten, not merely
    // equal content
    assert(files("p0") == before("p0"))
    assert(files("p2") == before("p2"))
    // the touched partition was rewritten
    assert(files("p1") != before("p1"))
  }

  test("partition-scoped delete: survivors exact, emptied partition swept, untouched partition intact, re-run converges") {
    import spark.implicits._
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_delete_spec"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val rows = (1L to 300L).map(i => (i, s"p${i % 3}", i * 10, s"v$i"))
    rows.toDF("k", "p", "ver", "payload")
      .write.mode("overwrite").partitionBy("p").parquet(base)
    def files(part: String): Map[String, Long] = {
      val d = new java.io.File(s"$base/p=$part")
      if (!d.exists()) Map.empty
      else d.listFiles().filter(_.getName.endsWith(".parquet"))
        .map(f => f.getName -> f.lastModified()).toMap
    }
    val before = files("p0")
    // tombstones: every even key in p1, and ALL of p2 (the emptied-
    // partition case dynamic overwrite alone cannot handle); p0
    // untouched
    val tomb = rows.filter { case (k, p, _, _) =>
      (p == "p1" && k % 2 == 0) || p == "p2"
    }.map { case (k, p, _, _) => (k, p) }.toDF("k", "p")
    Layout.deletePartitioned(base, tomb, "p", Seq("k"))
    def got() = spark.read.parquet(base)
      .collect().map(r => (r.getLong(0), r.getString(3))).toSet
    val want = rows.filterNot { case (k, p, _, _) =>
      (p == "p1" && k % 2 == 0) || p == "p2"
    }.map { case (k, p, _, _) => (k, p) }.toSet
    assert(got() == want)
    // the fully-deleted partition's DIRECTORY is gone (not merely
    // empty-read): stale files after the dynamic overwrite would
    // resurrect the tombstoned rows
    assert(!new java.io.File(s"$base/p=p2").exists())
    // untouched partition not rewritten (file identity)
    assert(files("p0") == before)
    // replaying the same delete converges: absent keys are no-ops,
    // the emptied-dir sweep re-finds nothing to remove
    Layout.deletePartitioned(base, tomb, "p", Seq("k"))
    assert(got() == want)
    assert(files("p0") == before)
  }

  test("partition-scoped delete on a NON-STRING partition column: sweep compares values, not boxes") {
    import spark.implicits._
    // a LongType partition column is read back partition-INFERRED as
    // IntegerType, so boxed equality between the caller's tombstone
    // values and the sink's kept values is always false — comparing
    // boxes would make EVERY touched partition look emptied and sweep
    // surviving rows away (data loss). The sweep must canonicalize
    // both sides through the same cast.
    val base = System.getProperty("java.io.tmpdir") + "/graft_layout_delete_long"
    val fs = new org.apache.hadoop.fs.Path(base)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(base), true)
    val rows = (1L to 90L).map(i => (i, i % 3, s"v$i")) // p: LongType
    rows.toDF("k", "p", "payload")
      .write.mode("overwrite").partitionBy("p").parquet(base)
    // delete HALF of p=1 (survivors must stay) and ALL of p=2
    val tomb = rows.filter { case (k, p, _) => (p == 1L && k % 2 == 0) || p == 2L }
      .map { case (k, p, _) => (k, p) }.toDF("k", "p")
    Layout.deletePartitioned(base, tomb, "p", Seq("k"))
    val got = spark.read.parquet(base).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    val want = rows.filterNot { case (k, p, _) => (p == 1L && k % 2 == 0) || p == 2L }
      .map { case (k, _, pay) => (k, pay) }.toSet
    assert(got == want, "survivors lost in a touched non-string partition")
    assert(new java.io.File(s"$base/p=1").exists(), "surviving partition swept")
    assert(!new java.io.File(s"$base/p=2").exists(), "emptied partition not swept")
  }
}
