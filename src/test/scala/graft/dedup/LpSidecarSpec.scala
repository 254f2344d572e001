package graft.dedup

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.LabelProp

/** The LP-community sidecar ([[Dedup.writeLpCommunities]] /
  * [[Dedup.refreshLpCommunities]]) — the fourth consumer of the
  * growing similarity-graph artifact, maintained by delta-LPA warm
  * start. LP's fixpoint is NOT unique, so the contract is weaker than
  * rank's tolerance band and asserted exactly as stated:
  *
  *  - the served assignment is a genuine FIXPOINT of the synchronous
  *    sweep over the CURRENT edge set — re-applying one round changes
  *    nothing (this is checkable without knowing which fixpoint);
  *  - warm restart at a converged assignment re-stops in one round
  *    (the zero-diff confirmation round);
  *  - the warm refresh uses no more rounds than a cold re-converge of
  *    the same union (the point of the sidecar);
  *  - refresh on an unchanged artifact is a no-op;
  *  - a cap-crossing retraction needs no fallback — the stop test is
  *    against the current (post-retraction) edges.
  */
class LpSidecarSpec extends AnyFunSuite with LocalSparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/g"

  private def corpus(ids: Range, k: Int) = {
    import spark.implicits._
    ids.map { i =>
      val t = i % k
      (i.toLong,
        s"template $t body the quick brown fox jumps over the lazy dog " +
          s"variant ${i / k} tail token stream for shingles")
    }.toDF("doc_id", "text")
  }

  private def labMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("community")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  /** The contract's core check: one more synchronous round over the
    * CURRENT stored edges reproduces the served assignment exactly. */
  private def assertFixpoint(path: String, clue: String): Unit = {
    val served = Dedup.readLpCommunities(spark, path)
    val edges = Dedup.readSimilarityGraph(spark, path)
      .select(col("doc_a"), col("doc_b"))
    val again = labMap(LabelProp.oneRound(edges, served))
    assert(again === labMap(served), s"$clue: served labels not a fixpoint")
    spark.catalog.clearCache()
  }

  test("build: served assignment is a fixpoint of the current edges") {
    val docs = corpus(0 until 60, 5)
    val p = tmp("lp_build")
    Dedup.writeSimilarityGraph(docs, p)
    Dedup.writeLpCommunities(spark, p)
    assert(LabelProp.lastConvergedRounds < 32, "cold converge capped")
    assertFixpoint(p, "build")
    assert(labMap(Dedup.readLpCommunities(spark, p)).nonEmpty, "vacuous")
  }

  test("refresh after an append: fixpoint again, fewer-or-equal rounds than cold") {
    val docs = corpus(0 until 80, 5)
    val p = tmp("lp_refresh")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), p)
    Dedup.writeLpCommunities(spark, p)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), p)
    Dedup.refreshLpCommunities(spark, p)
    val warmRounds = LabelProp.lastConvergedRounds
    assertFixpoint(p, "refresh")
    // node coverage: exactly the current endpoints
    val edges = Dedup.readSimilarityGraph(spark, p)
    val expNodes = edges.select(col("doc_a").as("id"))
      .union(edges.select(col("doc_b").as("id"))).distinct()
      .collect().map(_.getLong(0)).toSet
    assert(labMap(Dedup.readLpCommunities(spark, p)).keySet === expNodes)
    // cold re-converge of the same union for the rounds comparison
    LabelProp.communitiesConverged(
      edges.select(col("doc_a").as("doc_id"))
        .union(edges.select(col("doc_b").as("doc_id"))).distinct(),
      edges.select(col("doc_a"), col("doc_b")))
    val coldRounds = LabelProp.lastConvergedRounds
    // <= coldRounds + 1 with slack: delta-LPA has NO guarantee that a
    // warm trajectory is shorter — warm and cold follow different
    // paths to possibly different fixpoints, and a perturbed warm
    // start can in principle take more rounds than the cold
    // coarsening cascade. The ≤ relation is EMPIRICAL on these fixed
    // corpora (LP settles in 2-3 rounds here); the checkable contract
    // is fixpointness, asserted above.
    assert(warmRounds <= coldRounds + 1,
      s"warm used $warmRounds rounds vs cold $coldRounds (+1 slack)")
    spark.catalog.clearCache()
  }

  test("warm restart at a converged assignment re-stops in one round") {
    val docs = corpus(0 until 60, 5)
    val p = tmp("lp_restart")
    Dedup.writeSimilarityGraph(docs, p)
    val edges = Dedup.readSimilarityGraph(spark, p)
      .select(col("doc_a"), col("doc_b"))
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id"))).distinct()
    val conv = LabelProp.communitiesConverged(nodes, edges)
    assert(LabelProp.lastConvergedRounds < 32, "cold converge capped")
    val again = LabelProp.communitiesConvergedFrom(nodes, edges, conv)
    assert(LabelProp.lastConvergedRounds === 1,
      "restart at a fixpoint must stop at the zero-diff confirmation round")
    assert(labMap(again) === labMap(conv),
      "restart at a fixpoint must reproduce it exactly")
    spark.catalog.clearCache()
  }

  test("refresh on an unchanged artifact is a no-op") {
    val docs = corpus(0 until 40, 4)
    val p = tmp("lp_noop")
    Dedup.writeSimilarityGraph(docs, p)
    Dedup.writeLpCommunities(spark, p)
    val before = labMap(Dedup.readLpCommunities(spark, p))
    LabelProp.lastConvergedRounds = -1
    Dedup.refreshLpCommunities(spark, p)
    assert(LabelProp.lastConvergedRounds === -1, "no-op refresh iterated")
    assert(labMap(Dedup.readLpCommunities(spark, p)) === before)
    spark.catalog.clearCache()
  }

  test("capped-out refresh records converged=false and is resumed, not served as final") {
    val docs = corpus(0 until 80, 5)
    val p = tmp("lp_resume")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), p)
    Dedup.writeLpCommunities(spark, p)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), p)
    // a 1-round cap cannot re-settle the appended nodes: the write
    // must carry converged=false (a capped assignment is NOT a
    // fixpoint, and nothing downstream can tell by inspection)
    Dedup.refreshLpCommunities(spark, p, maxIters = 1)
    val meta1 = spark.read.parquet(s"$p/lp/meta").collect()(0)
    assert(!meta1.getBoolean(3), "capped refresh must record converged=false")
    assert(meta1.getLong(2) === 1L, "rounds_ran must record the capped round")
    // a plain refresh over UNCHANGED edges must re-enter the sweep
    // (delta-LPA resume from the stored assignment) and reach a
    // genuine fixpoint
    Dedup.refreshLpCommunities(spark, p)
    val meta2 = spark.read.parquet(s"$p/lp/meta").collect()(0)
    assert(meta2.getBoolean(3), "resume must flip converged")
    assertFixpoint(p, "resume")
    // and the artifact is now final: one more refresh no-ops
    LabelProp.lastConvergedRounds = -1
    Dedup.refreshLpCommunities(spark, p)
    assert(LabelProp.lastConvergedRounds === -1,
      "refresh after a converged resume must no-op")
  }

  test("cap-crossing retraction: no fallback needed, still a fixpoint") {
    val px = Dedup.MinHashParams(maxBucketSize = 2)
    val docs = corpus(0 until 30, 3)
    val p = tmp("lp_crossing")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 20), p, px)
    Dedup.writeLpCommunities(spark, p)
    val nStored = Dedup.readSimilarityGraph(spark, p).count()
    val clones = docs.filter(col("doc_id") < 20 && col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    Dedup.appendSimilarityGraph(clones, p, px)
    Dedup.refreshLpCommunities(spark, p)
    assertFixpoint(p, "crossing refresh")
    assert(nStored > 0, "vacuous: no stored edges before the crossing")
  }
}
