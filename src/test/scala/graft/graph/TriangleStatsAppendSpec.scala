package graft.graph

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.dedup.Dedup

/** Incremental triangle/degree maintenance: [[Triangles.appendStats]]
  * over stored stats + the new-edge subset of the current edge list
  * must equal [[Triangles.stats]] over the union — every NEW triangle
  * counted exactly once at its lex-smallest new edge — and the
  * artifact verbs ([[Dedup.writeTriangleStats]] /
  * [[Dedup.refreshTriangleStats]]) must keep the tri/ sidecar of a
  * growing similarity graph identical to a from-scratch build,
  * including the cap-crossing retraction case where the refresh must
  * detect the deletion (a retracted edge can REMOVE baked triangles)
  * and rebuild instead of merging. */
class TriangleStatsAppendSpec extends AnyFunSuite with LocalSparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/g"

  private def edgesDF(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  private def statsMap(df: org.apache.spark.sql.DataFrame)
      : Map[Long, (Long, Long)] =
    df.select(col("doc_id"), col("degree"), col("n_tri")).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** appendStats(stats(old), old∪new flagged) == stats(old∪new). */
  private def check(oldPairs: Seq[(Long, Long)], newPairs: Seq[(Long, Long)],
      clue: String): Unit = {
    import spark.implicits._
    val stored = Triangles.stats(edgesDF(oldPairs))
    val all = (oldPairs.map(p => (p._1, p._2, false)) ++
      newPairs.map(p => (p._1, p._2, true))).toDF("doc_a", "doc_b", "isn")
    val got = statsMap(Triangles.appendStats(stored, all, col("isn")))
    spark.catalog.clearCache()
    val exp = statsMap(Triangles.stats(edgesDF(oldPairs ++ newPairs)))
    spark.catalog.clearCache()
    assert(got === exp, clue)
  }

  test("one new edge closes a triangle over two old edges") {
    check(Seq((1L, 2L), (1L, 3L)), Seq((2L, 3L)), "1 new edge")
  }

  test("two new edges complete a triangle with one old edge") {
    check(Seq((1L, 2L)), Seq((1L, 3L), (2L, 3L)), "2 new edges")
  }

  test("an all-new triangle on fresh nodes counts once per corner") {
    check(Seq((1L, 2L)), Seq((10L, 11L), (10L, 12L), (11L, 12L)),
      "3 new edges, fresh nodes")
  }

  test("a new node closing a wedge over an old edge") {
    // old: 1-2; new node 9 attaches to both -> triangle {1,2,9}
    check(Seq((1L, 2L)), Seq((1L, 9L), (2L, 9L)), "new node wedge")
  }

  test("triangle-free batch is a pure degree delta") {
    check(Seq((1L, 2L), (3L, 4L)), Seq((5L, 6L), (2L, 3L)), "no triangles")
  }

  test("one new edge closing MANY triangles (shared-neighbor fan)") {
    // 1 and 2 share old neighbors 3,4,5; new edge (1,2) closes three
    check(Seq((1L, 3L), (2L, 3L), (1L, 4L), (2L, 4L), (1L, 5L), (2L, 5L)),
      Seq((1L, 2L)), "fan of closures")
  }

  test("old-only triangles stay counted; untouched nodes keep stats") {
    check(Seq((1L, 2L), (1L, 3L), (2L, 3L), (7L, 8L)), Seq((4L, 5L)),
      "old triangle intact")
  }

  test("randomized: append == from-scratch over random graphs (25 cases)") {
    val rnd = new scala.util.Random(16116)
    for (c <- 0 until 25) {
      val n = 6 + rnd.nextInt(24)
      val nOld = 4 + rnd.nextInt(20)
      val nNew = 1 + rnd.nextInt(12)
      def rp() = {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }
      val oldPairs = Seq.fill(nOld)(rp()).filter(p => p._1 != p._2).distinct
      val newPairs = Seq.fill(nNew)(rp()).filter(p => p._1 != p._2).distinct
        .filterNot(oldPairs.contains)
      if (oldPairs.nonEmpty && newPairs.nonEmpty)
        check(oldPairs, newPairs, s"case $c: old=$oldPairs new=$newPairs")
    }
  }

  test("artifact lifecycle: build + append + refresh == from-scratch stats (no crossing)") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 5} tail token stream for shingles")
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("tapp_inc")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 40), inc, p)
    Dedup.writeTriangleStats(spark, inc)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 40), inc, p)
    Dedup.refreshTriangleStats(spark, inc)
    val scratch = tmp("tapp_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    Dedup.writeTriangleStats(spark, scratch)
    spark.catalog.clearCache()
    val got = statsMap(Dedup.readTriangleStats(spark, inc))
    val exp = statsMap(Dedup.readTriangleStats(spark, scratch))
    assert(exp.nonEmpty, "corpus produced no stats — test is vacuous")
    assert(exp.exists(_._2._2 > 0L), "corpus closed no triangle — vacuous")
    assert(got === exp)
    // a second refresh with nothing appended must be a no-op
    Dedup.refreshTriangleStats(spark, inc)
    spark.catalog.clearCache()
    assert(statsMap(Dedup.readTriangleStats(spark, inc)) === exp)
  }

  test("artifact lifecycle: cap-crossing retraction forces the rebuild path, stats still exact") {
    import spark.implicits._
    // the ComponentsAppendSpec crossing corpus: cap 6, templates with
    // 5+ old members cross when new members arrive -> stored old×old
    // edges are RETRACTED, which removes baked triangles; the refresh
    // must detect the sub-watermark count drop and rebuild
    val p = Dedup.MinHashParams(maxBucketSize = 6)
    val rows = (0 until 40).map { i =>
      (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 5} tail token stream for shingles")
    } ++ (40 until 52).map { i =>
      (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
        s"the lazy dog variant ${100 + i / 4} tail token stream for shingles")
    }
    val docs = rows.toDF("doc_id", "text")
    val inc = tmp("tapp_cross_inc")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 40), inc, p)
    Dedup.writeTriangleStats(spark, inc)
    val nBaked = spark.read.parquet(s"$inc/tri/meta").collect()(0).getLong(1)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 40), inc, p)
    val wm = spark.read.parquet(s"$inc/tri/meta").collect()(0).getLong(0)
    val nNow = spark.read.parquet(s"$inc/edges")
      .filter(col("doc_b") <= wm).count()
    assert(nNow < nBaked,
      "append retracted nothing below the watermark — crossing not planted")
    Dedup.refreshTriangleStats(spark, inc)
    val scratch = tmp("tapp_cross_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    Dedup.writeTriangleStats(spark, scratch)
    spark.catalog.clearCache()
    assert(statsMap(Dedup.readTriangleStats(spark, inc)) ===
      statsMap(Dedup.readTriangleStats(spark, scratch)))
  }

  test("two appends before one refresh, then another append+refresh, compose") {
    import spark.implicits._
    val docs = (0 until 80).map { i =>
      (i.toLong, s"template ${i % 6} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 6} tail token stream for shingles")
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("tapp_multi")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 30), inc, p)
    Dedup.writeTriangleStats(spark, inc)
    Dedup.appendSimilarityGraph(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 45), inc, p)
    Dedup.appendSimilarityGraph(
      docs.filter(col("doc_id") >= 45 && col("doc_id") < 60), inc, p)
    Dedup.refreshTriangleStats(spark, inc) // catches up over TWO batches
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), inc, p)
    Dedup.refreshTriangleStats(spark, inc)
    val scratch = tmp("tapp_multi_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    Dedup.writeTriangleStats(spark, scratch)
    spark.catalog.clearCache()
    assert(statsMap(Dedup.readTriangleStats(spark, inc)) ===
      statsMap(Dedup.readTriangleStats(spark, scratch)))
  }

  test("withCc over refreshed stats == Triangles.clustering over the union graph") {
    import spark.implicits._
    val docs = (0 until 50).map { i =>
      (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 4} tail token stream for shingles")
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("tapp_cc")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 35), inc, p)
    Dedup.writeTriangleStats(spark, inc)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 35), inc, p)
    Dedup.refreshTriangleStats(spark, inc)
    val got = Triangles.withCc(Dedup.readTriangleStats(spark, inc))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    spark.catalog.clearCache()
    val exp = Triangles.clustering(
        Dedup.readSimilarityGraph(spark, inc).select(col("doc_a"), col("doc_b")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    spark.catalog.clearCache()
    assert(got === exp)
  }
}
