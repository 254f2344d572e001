package graft.dedup

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

/** Incremental component maintenance (round-15 verdict #1):
  * [[Dedup.appendComponents]] over stored labels + a batch of new
  * edges must equal [[Dedup.connectedComponents]] over the union edge
  * set — and the artifact verbs ([[Dedup.writeComponentLabels]] /
  * [[Dedup.refreshComponentLabels]]) must keep the labels/ sidecar of
  * a growing similarity graph identical to a from-scratch build,
  * including the cap-crossing retraction case where the refresh must
  * detect the deletion and rebuild instead of merging. */
class ComponentsAppendSpec extends AnyFunSuite with LocalSparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/g"

  private def edgesDF(pairs: Seq[(Long, Long)]) = {
    import spark.implicits._
    pairs.toDF("doc_a", "doc_b")
  }

  private def labelMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def check(oldPairs: Seq[(Long, Long)], newPairs: Seq[(Long, Long)],
      clue: String): Unit = {
    val stored = Dedup.connectedComponents(edgesDF(oldPairs))
    val got = labelMap(Dedup.appendComponents(stored, edgesDF(newPairs)))
    val exp = labelMap(Dedup.connectedComponents(edgesDF(oldPairs ++ newPairs)))
    spark.catalog.clearCache()
    assert(got === exp, clue)
  }

  test("merge two stored components through one new edge") {
    check(Seq((1L, 2L), (3L, 4L)), Seq((2L, 3L)), "bridge")
  }

  test("new-nodes-only batch forms its own components") {
    check(Seq((1L, 2L)), Seq((10L, 11L), (11L, 12L), (20L, 21L)), "fresh")
  }

  test("edge inside an existing component is a no-op; chains of merges collapse") {
    check(Seq((1L, 2L), (2L, 3L)), Seq((1L, 3L)), "intra no-op")
    // batch chains THREE stored components and two new nodes into one
    check(Seq((1L, 2L), (5L, 6L), (8L, 9L)),
      Seq((2L, 30L), (30L, 5L), (9L, 31L), (31L, 6L)), "chain collapse")
  }

  test("new edge attaches a previously UNPAIRED old id (not in stored labels)") {
    // id 7 exists in no stored pair: it must be treated as its own root
    check(Seq((1L, 2L)), Seq((7L, 1L)), "unpaired old id")
  }

  test("randomized: append == from-scratch over random graphs (20 cases)") {
    val rnd = new scala.util.Random(16016)
    for (c <- 0 until 20) {
      val n = 8 + rnd.nextInt(40)
      val nOld = 3 + rnd.nextInt(12)
      val nNew = 1 + rnd.nextInt(10)
      def rp() = {
        val a = rnd.nextInt(n).toLong; val b = rnd.nextInt(n).toLong
        (math.min(a, b), math.max(a, b))
      }
      val oldPairs = Seq.fill(nOld)(rp()).filter(p => p._1 != p._2).distinct
      val newPairs = Seq.fill(nNew)(rp()).filter(p => p._1 != p._2).distinct
      if (oldPairs.nonEmpty && newPairs.nonEmpty)
        check(oldPairs, newPairs, s"case $c: old=$oldPairs new=$newPairs")
    }
  }

  test("artifact lifecycle: build + append + refresh == from-scratch labels (no crossing)") {
    import spark.implicits._
    val docs = (0 until 60).map { i =>
      (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 5} tail token stream for shingles")
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("capp_inc")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 40), inc, p)
    Dedup.writeComponentLabels(spark, inc)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 40), inc, p)
    Dedup.refreshComponentLabels(spark, inc)
    val scratch = tmp("capp_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    Dedup.writeComponentLabels(spark, scratch)
    spark.catalog.clearCache()
    val got = labelMap(Dedup.readComponentLabels(spark, inc))
    val exp = labelMap(Dedup.readComponentLabels(spark, scratch))
    assert(exp.nonEmpty, "corpus produced no labels — test is vacuous")
    assert(got === exp)
    // a second refresh with nothing appended must be a no-op (same labels)
    Dedup.refreshComponentLabels(spark, inc)
    spark.catalog.clearCache()
    assert(labelMap(Dedup.readComponentLabels(spark, inc)) === exp)
  }

  test("artifact lifecycle: cap-crossing retraction forces the rebuild path, labels still exact") {
    import spark.implicits._
    // the SimGraphSpec crossing corpus: cap 6, template with 5 old
    // members crosses when new members arrive -> stored old×old edges
    // are RETRACTED, which can split components; the refresh must
    // detect the sub-watermark count drop and rebuild
    val p = Dedup.MinHashParams(maxBucketSize = 6)
    val rows = (0 until 40).map { i =>
      (i.toLong, s"template ${i % 5} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 5} tail token stream for shingles")
    } ++ (40 until 52).map { i =>
      (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
        s"the lazy dog variant ${100 + i / 4} tail token stream for shingles")
    }
    val docs = rows.toDF("doc_id", "text")
    val inc = tmp("capp_cross_inc")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 40), inc, p)
    Dedup.writeComponentLabels(spark, inc)
    val nBaked = spark.read.parquet(s"$inc/labels/meta").collect()(0).getLong(1)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 40), inc, p)
    // precondition: the append actually retracted sub-watermark edges
    val wm = spark.read.parquet(s"$inc/labels/meta").collect()(0).getLong(0)
    val nNow = spark.read.parquet(s"$inc/edges")
      .filter(col("doc_b") <= wm).count()
    assert(nNow < nBaked,
      "append retracted nothing below the watermark — crossing not planted")
    Dedup.refreshComponentLabels(spark, inc)
    val scratch = tmp("capp_cross_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    Dedup.writeComponentLabels(spark, scratch)
    spark.catalog.clearCache()
    assert(labelMap(Dedup.readComponentLabels(spark, inc)) ===
      labelMap(Dedup.readComponentLabels(spark, scratch)))
  }

  test("two appends before one refresh, then another append+refresh, compose") {
    import spark.implicits._
    val docs = (0 until 80).map { i =>
      (i.toLong, s"template ${i % 6} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 6} tail token stream for shingles")
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("capp_multi")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 30), inc, p)
    Dedup.writeComponentLabels(spark, inc)
    Dedup.appendSimilarityGraph(
      docs.filter(col("doc_id") >= 30 && col("doc_id") < 45), inc, p)
    Dedup.appendSimilarityGraph(
      docs.filter(col("doc_id") >= 45 && col("doc_id") < 60), inc, p)
    Dedup.refreshComponentLabels(spark, inc) // catches up over TWO batches
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), inc, p)
    Dedup.refreshComponentLabels(spark, inc)
    val scratch = tmp("capp_multi_scratch")
    Dedup.writeSimilarityGraph(docs, scratch, p)
    Dedup.writeComponentLabels(spark, scratch)
    spark.catalog.clearCache()
    assert(labelMap(Dedup.readComponentLabels(spark, inc)) ===
      labelMap(Dedup.readComponentLabels(spark, scratch)))
  }

  test("clustersOf over refreshed labels == Dedup.clusters over the union corpus") {
    import spark.implicits._
    val docs = (0 until 50).map { i =>
      (i.toLong, s"template ${i % 4} body the quick brown fox jumps over " +
        s"the lazy dog variant ${i / 4} tail token stream for shingles")
    }.toDF("doc_id", "text")
    val p = Dedup.MinHashParams()
    val inc = tmp("capp_clusters")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 35), inc, p)
    Dedup.writeComponentLabels(spark, inc)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 35), inc, p)
    Dedup.refreshComponentLabels(spark, inc)
    val got = Dedup.clustersOf(docs, Dedup.readComponentLabels(spark, inc))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    val exp = Dedup.clusters(docs, p)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    spark.catalog.clearCache()
    assert(got === exp)
  }
}
