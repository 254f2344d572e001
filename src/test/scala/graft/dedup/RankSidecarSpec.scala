package graft.dedup

import org.apache.spark.sql.functions._
import graft.LocalSparkSuite
import org.scalatest.funsuite.AnyFunSuite

import graft.graph.GraphRank

/** The rank-scores sidecar of the similarity-graph artifact
  * ([[Dedup.writeRankScores]] / [[Dedup.refreshRankScores]]). Rank is
  * a GLOBAL fixpoint — no batch-local exact merge exists — so the
  * sidecar's contract is the tolerance band of the converged serve
  * twin, not the labels/tri exact gate:
  *
  *  - warm restart AT a converged vector re-stops immediately (the
  *    next move contracts below tol);
  *  - a refresh after an append lands within 14·tol of a cold
  *    from-scratch converge over the union. 14·tol is an EMPIRICALLY
  *    PINNED band on these fixed, seeded spec corpora, not a theorem:
  *    the heuristic argument (both vectors within ~tol/(1-d) of the
  *    fixpoint → distance ≤ ~2·tol·dDen/(dDen−dNum) ≈ 13.4·tol at
  *    d=0.85) treats the stop test's max-move ≤ tol as an ∞-norm
  *    distance bound, which PageRank's iteration map does not grant
  *    on hub-heavy graphs (a star hub's move is ~d·k·scale — see the
  *    RankSidecarTol scaladoc; only an n-dependent L1 bound holds in
  *    general). The corpora here are fixed and deterministic so the
  *    assertion cannot flake, and the refresh also uses no MORE
  *    rounds than the cold converge (the point of the sidecar);
  *  - refresh on an unchanged artifact is a no-op;
  *  - a cap-crossing retraction needs NO rebuild fallback: the stored
  *    vector is only an initial guess, so the refresh stays in-band
  *    against a cold solve of the current (post-retraction) edges.
  */
class RankSidecarSpec extends AnyFunSuite with LocalSparkSuite {

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/g"

  private val Tol = 1000000000L // 10^9 at scale 10^12: fast specs

  private def corpus(ids: Range, k: Int) = {
    import spark.implicits._
    ids.map { i =>
      val t = i % k
      (i.toLong,
        s"template $t body the quick brown fox jumps over the lazy dog " +
          s"variant ${i / k} tail token stream for shingles")
    }.toDF("doc_id", "text")
  }

  private def rankMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
    df.select(col("doc_id"), col("rank_e12")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def coldOver(path: String): Map[Long, Long] = {
    val edges = Dedup.readSimilarityGraph(spark, path)
      .select(col("doc_a"), col("doc_b"))
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id"))).distinct()
    val m = rankMap(GraphRank.pageRankConverged(nodes, edges, Tol))
    spark.catalog.clearCache()
    m
  }

  private def assertInBand(warm: Map[Long, Long], cold: Map[Long, Long],
      clue: String): Unit = {
    assert(warm.keySet === cold.keySet, s"$clue: node sets differ")
    // 14*tol: empirically pinned on these fixed seeded corpora (see
    // the class scaladoc — NOT a general ∞-norm theorem)
    val worst = warm.map { case (id, r) => math.abs(r - cold(id)) }.max
    assert(worst <= 14L * Tol, s"$clue: max |warm-cold| = $worst > 14*tol")
  }

  test("warm restart at a converged vector re-stops immediately") {
    val docs = corpus(0 until 60, 5)
    val p = tmp("rank_restart")
    Dedup.writeSimilarityGraph(docs, p)
    val edges = Dedup.readSimilarityGraph(spark, p)
      .select(col("doc_a"), col("doc_b"))
    val nodes = edges.select(col("doc_a").as("doc_id"))
      .union(edges.select(col("doc_b").as("doc_id"))).distinct()
    val conv = GraphRank.pageRankConverged(nodes, edges, Tol)
    val coldRounds = GraphRank.lastConvergedRounds
    assert(coldRounds < 64, "cold converge capped — raise Tol")
    val again = GraphRank.pageRankConvergedFrom(nodes, edges, conv, Tol)
    assert(GraphRank.lastConvergedRounds === 1,
      "one round from the stop point must move <= d*tol + rounding")
    assertInBand(rankMap(again), rankMap(conv), "restart")
    spark.catalog.clearCache()
  }

  test("refresh after an append: in-band vs cold union, fewer-or-equal rounds") {
    val docs = corpus(0 until 80, 5)
    val p = tmp("rank_refresh")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), p)
    Dedup.writeRankScores(spark, p, Tol)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), p)
    Dedup.refreshRankScores(spark, p, Tol)
    val warmRounds = GraphRank.lastConvergedRounds
    val got = rankMap(Dedup.readRankScores(spark, p))
    val cold = coldOver(p)
    val coldRounds = GraphRank.lastConvergedRounds
    assertInBand(got, cold, "refresh")
    assert(warmRounds <= coldRounds,
      s"warm start used $warmRounds rounds vs cold $coldRounds")
  }

  test("refresh on an unchanged artifact is a no-op") {
    val docs = corpus(0 until 40, 4)
    val p = tmp("rank_noop")
    Dedup.writeSimilarityGraph(docs, p)
    Dedup.writeRankScores(spark, p, Tol)
    val before = rankMap(Dedup.readRankScores(spark, p))
    GraphRank.lastConvergedRounds = -1
    Dedup.refreshRankScores(spark, p, Tol)
    assert(GraphRank.lastConvergedRounds === -1, "no-op refresh iterated")
    assert(rankMap(Dedup.readRankScores(spark, p)) === before)
    spark.catalog.clearCache()
  }

  test("cap-crossing retraction: no fallback needed, refresh stays in-band") {
    // tiny cap: the appended exact clones push stored 2-member band
    // buckets over the cap, retracting stored pair edges (the
    // SimGraphSpec crossing construction)
    val px = Dedup.MinHashParams(maxBucketSize = 2)
    val docs = corpus(0 until 30, 3)
    val p = tmp("rank_crossing")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 20), p, px)
    Dedup.writeRankScores(spark, p, Tol)
    val nStored = Dedup.readSimilarityGraph(spark, p).count()
    val clones = docs.filter(col("doc_id") < 20 && col("doc_id") % 3 === 0)
      .select((col("doc_id") + 100L).as("doc_id"), col("text"))
    Dedup.appendSimilarityGraph(clones, p, px)
    Dedup.refreshRankScores(spark, p, Tol)
    assertInBand(rankMap(Dedup.readRankScores(spark, p)), coldOver(p),
      "crossing refresh")
    assert(nStored > 0, "vacuous: no stored edges before the crossing")
  }

  test("capped-out refresh records converged=false and is resumed, not served as final") {
    val docs = corpus(0 until 80, 5)
    val p = tmp("rank_resume")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), p)
    Dedup.writeRankScores(spark, p, Tol)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), p)
    // a 1-round cap cannot absorb the append's perturbation: the
    // write must carry converged=false in the meta instead of
    // masquerading as final (round-16 verdict #1)
    Dedup.refreshRankScores(spark, p, Tol, maxIters = 1)
    val meta1 = spark.read.parquet(s"$p/rank/meta").collect()(0)
    assert(!meta1.getBoolean(3), "capped refresh must record converged=false")
    assert(meta1.getLong(2) === 1L, "rounds_ran must record the capped round")
    // a plain refresh over UNCHANGED edges must re-enter the loop
    // (resuming from the stored vector), converge, and flip the flag
    Dedup.refreshRankScores(spark, p, Tol)
    val meta2 = spark.read.parquet(s"$p/rank/meta").collect()(0)
    assert(meta2.getBoolean(3), "resume must flip converged")
    assertInBand(rankMap(Dedup.readRankScores(spark, p)), coldOver(p), "resume")
    // and now the artifact really is final: one more refresh no-ops
    GraphRank.lastConvergedRounds = -1
    Dedup.refreshRankScores(spark, p, Tol)
    assert(GraphRank.lastConvergedRounds === -1,
      "refresh after a converged resume must no-op")
    spark.catalog.clearCache()
  }

  test("rankSidecarAudit: all-ok on a healthy artifact, flags flip on corruption") {
    import spark.implicits._
    val docs = corpus(0 until 80, 5)
    val p = tmp("rank_audit")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), p)
    Dedup.writeRankScores(spark, p, Tol)
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), p)
    Dedup.refreshRankScores(spark, p, Tol)
    def audit() = Dedup.rankSidecarAudit(spark, p, Tol).collect()(0)
    val ok = audit()
    assert((ok.getLong(0), ok.getLong(1), ok.getLong(2), ok.getLong(3))
      === ((1L, 1L, 1L, 1L)), "healthy artifact must pass every flag")
    // corrupt the served vector: push one score far outside the band
    val assign = Dedup.readRankScores(spark, p).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val bad = assign.zipWithIndex.map { case ((id, r), i) =>
      (id, if (i == 0) r + 100L * Tol else r) }
    spark.catalog.clearCache()
    bad.toSeq.toDF("doc_id", "rank_e12")
      .write.mode("overwrite").parquet(s"$p/rank/assign")
    val band = audit()
    assert(band.getLong(1) === 0L, "out-of-band score must flip band_ok")
    // corrupt coverage: drop a node row entirely
    spark.catalog.clearCache()
    assign.drop(1).toSeq.toDF("doc_id", "rank_e12")
      .write.mode("overwrite").parquet(s"$p/rank/assign")
    val cov = audit()
    assert(cov.getLong(0) === 0L, "missing node must flip nodes_ok")
    spark.catalog.clearCache()
  }

  test("new nodes enter the sidecar at the cold init and converge") {
    val docs = corpus(0 until 80, 5)
    val p = tmp("rank_newnodes")
    Dedup.writeSimilarityGraph(docs.filter(col("doc_id") < 60), p)
    Dedup.writeRankScores(spark, p, Tol)
    val preNodes = rankMap(Dedup.readRankScores(spark, p)).keySet
    Dedup.appendSimilarityGraph(docs.filter(col("doc_id") >= 60), p)
    Dedup.refreshRankScores(spark, p, Tol)
    val edges = Dedup.readSimilarityGraph(spark, p)
    val expNodes = edges.select(col("doc_a").as("id"))
      .union(edges.select(col("doc_b").as("id"))).distinct()
      .collect().map(_.getLong(0)).toSet
    val gotNodes = rankMap(Dedup.readRankScores(spark, p)).keySet
    assert(gotNodes === expNodes, "sidecar nodes != current endpoints")
    assert((gotNodes -- preNodes).nonEmpty,
      "vacuous: append introduced no new endpoint")
    spark.catalog.clearCache()
  }
}
